package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Rounds, Tables}

/** Deduplication family for training-data pipelines:
  * exact (hash-groupBy), MinHash-LSH candidates, shingle-Jaccard
  * verification, and 64-bit SimHash — all over `documents`.
  *
  * Scale design: MinHash signatures are conditional-aggregation minima
  * over (doc × seed) rows — map-side combine shrinks to n_docs×k before
  * any shuffle; LSH candidates come from an equi-join on band hashes
  * (never O(n²)); Jaccard verification touches only LSH candidates.
  * Hot buckets are AQE skew territory; the band/row parameters trade
  * recall vs candidate volume.
  */
object Dedup {

  val numHashes = 9 // k minhash functions, banded as numBands × bandRows

  /** Banded-LSH parameters: 3 bands × 3 rows (threshold ≈ (1/b)^(1/r) ≈
    * 0.69). With r > 1 a candidate needs ALL r minima of some band to
    * coincide — bucket keys are r-tuples, so the "docs sharing any one
    * common-shingle minimum all land in one bucket" hot-bucket blowup of
    * the old 9×1 config (kept as [[minhashCandidatesR1]] for tests)
    * cannot happen; candidate volume stays ~linear on skewed corpora
    * (see ScaleSpec).
    */
  val bandRows = 3
  val numBands = numHashes / bandRows

  /** Multiply-add-mod-2³² permutation constants: a_j odd (a bijection on
    * 32-bit ints), b_j arbitrary. One md5 per shingle + 9 integer
    * permutes replaces 9 md5s — ~9× less hashing and integer (not hex
    * string) min-aggregation.
    */
  private val (permA, permB): (Array[Long], Array[Long]) = {
    val r = new scala.util.Random(13)
    val a = Array.fill(numHashes)(r.nextInt(1 << 30).toLong * 2 + 1)
    val b = Array.fill(numHashes)(r.nextInt(Int.MaxValue).toLong)
    (a, b)
  }
  private val mod32 = 4294967296L

  /** MinHash signature rows (doc_id, j, minh): h = first 8 md5 hex chars
    * of the shingle as a 32-bit int; minh_j = min over shingles of the
    * j-th multiply-add permutation of h. Identical on both engines
    * (a_j·h + b_j < 2^63, no overflow).
    */
  private def signatures(docs: DataFrame): DataFrame =
    // row-local MinHashSig (r5; the r3 form was k min-aggregates over
    // an exploded-shingle shuffle): the k minima come straight off the
    // parquet scan as a projection, then unpivot to (doc_id, j, minh)
    // for the band join. Values unchanged — min over shingle
    // occurrences equals min over the distinct set.
    docs
      .select(
        col("doc_id"),
        graft.functions.exprs
          .minhash_sig(split(col("text"), " "), 3, TextStats.maxTokens, permA, permB)
          .as("ms")
      )
      .select(col("doc_id"), posexplode(col("ms")).as(Seq("j", "minh")))

  private val signaturesSql: String = {
    val aSql = permA.mkString("[", ", ", "]")
    val bSql = permB.mkString("[", ", ", "]")
    val h32 = "CAST(concat('0x', substr(md5(sh), 1, 8)) AS BIGINT)"
    s"${TextStats.shinglesSql}, dsh AS (SELECT DISTINCT doc_id, sh FROM shingles), " +
      s"sigs AS (SELECT doc_id, g.j AS j, " +
      s"min((list_extract($aSql, g.j + 1) * $h32 + list_extract($bSql, g.j + 1)) % $mod32) AS minh " +
      s"FROM dsh, generate_series(0, ${numHashes - 1}) g(j) GROUP BY doc_id, g.j)"
  }

  /** Banded signature rows (doc_id, band, bh): bh = xxhash64 of the
    * band index and the band's r contiguous minhash values — one 64-bit
    * bucket key per band, so the LSH join shuffles a single long
    * regardless of r. The oracle joins on the raw value triple instead;
    * the sets agree up to a ~2⁻⁶⁴ xxhash64 collision.
    */
  private def bandedSignatures(docs: DataFrame): DataFrame =
    docs
      .select(
        col("doc_id"),
        graft.functions.exprs
          .minhash_sig(split(col("text"), " "), 3, TextStats.maxTokens, permA, permB)
          .as("ms")
      )
      // docs shorter than the shingle window carry an EMPTY signature
      // (MinHashSig, expressions.scala:243): element_at below would
      // throw under ANSI, and with ANSI off every short doc would share
      // one constant null-fed bucket per band. The oracle's shingles
      // CTE emits no rows for them either, so dropping here is parity.
      .filter(size(col("ms")) === numHashes)
      .select(
        col("doc_id"),
        posexplode(
          array((0 until numBands).map { b =>
            xxhash64(
              (lit(b) +: (0 until bandRows).map(r => element_at(col("ms"), b * bandRows + r + 1))): _*
            )
          }: _*)
        ).as(Seq("band", "bh"))
      )

  /** LSH candidate pairs: docs sharing ALL `bandRows` minhash values of
    * at least one band (banded MinHash-LSH, the corpus-scale default).
    */
  def minhashCandidates(docs: DataFrame): DataFrame = {
    val sigs = bandedSignatures(docs)
    val a = sigs.select(col("doc_id").as("doc_a"), col("band"), col("bh"))
    val b = sigs.select(col("doc_id").as("doc_b"), col("band"), col("bh"))
    a.join(b, Seq("band", "bh"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"))
      .distinct()
  }

  /** The retired 9-bands × 1-row config (any single shared minhash value
    * is a candidate). Test-only twin: high recall, but buckets keyed on
    * one 32-bit minimum over common shingles blow up on skewed corpora —
    * ScaleSpec demonstrates the candidate-volume gap vs the banded
    * default.
    */
  def minhashCandidatesR1(docs: DataFrame): DataFrame = {
    val sigs = signatures(docs)
    val a = sigs.select(col("doc_id").as("doc_a"), col("j"), col("minh"))
    val b = sigs.select(col("doc_id").as("doc_b"), col("j"), col("minh"))
    a.join(b, Seq("j", "minh"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"))
      .distinct()
  }

  /** `bands(doc_id, band, m0..m{r-1})` CTE appended to the signature
    * chain — the oracle's value-tuple form of [[bandedSignatures]].
    */
  private val bandsSql: String = {
    val cols = (0 until bandRows)
      .map(r => s"min(CASE WHEN j % $bandRows = $r THEN minh END) AS m$r")
      .mkString(", ")
    s"bands AS (SELECT doc_id, j // $bandRows AS band, $cols FROM sigs GROUP BY doc_id, j // $bandRows)"
  }

  private val bandJoinOn: String =
    (0 until bandRows).map(r => s"a.m$r = b.m$r").mkString("a.band = b.band AND ", " AND ", "")

  val minhashCandidatesSql: String =
    s"WITH $signaturesSql, $bandsSql " +
      s"SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b FROM bands a " +
      s"JOIN bands b ON $bandJoinOn AND a.doc_id < b.doc_id"

  /** Shingle-set Jaccard for each LSH candidate pair. The verification
    * join runs on 64-bit xxhash64 of the shingle, computed once — the
    * widest shuffle of the query moves longs instead of shingle strings
    * (counts identical modulo ~2⁻⁶⁴ hash collisions; the string-keyed
    * oracle confirms no collision occurs on the gate data).
    */
  def jaccard(docs: DataFrame): DataFrame = {
    val cands = minhashCandidates(docs)
    // one row per doc carrying its shingle-hash SET as an array: each
    // candidate pair intersects row-locally (array_intersect is a hash
    // probe) instead of exploding cands × shingles through two joins
    // per-doc shingle-hash SET in one row-local pass (ShingleHashSet =
    // the same xxhash64-of-shingle values the exploded formulation
    // hashed): no explode, no distinct/groupBy shuffles of ~tokens x
    // docs rows — dsha is a projection off the parquet scan
    val dsha = docs
      .select(
        col("doc_id"),
        graft.functions.exprs
          .shingle_hash_set(split(col("text"), " "), 3, TextStats.maxTokens)
          .as("shs")
      )
    cands
      .join(dsha.select(col("doc_id").as("doc_a"), col("shs").as("sha")), Seq("doc_a"))
      .join(dsha.select(col("doc_id").as("doc_b"), col("shs").as("shb")), Seq("doc_b"))
      .select(
        col("doc_a"),
        col("doc_b"),
        size(array_intersect(col("sha"), col("shb"))).cast("long").as("n_inter"),
        size(col("sha")).cast("long").as("na"),
        size(col("shb")).cast("long").as("nb")
      )
      // the join-based oracle emits nothing for a candidate pair with an
      // empty intersection (possible via a minhash permutation
      // collision) — match that, don't emit jaccard = 0 rows
      .filter(col("n_inter") > 0)
      .select(
        col("doc_a"),
        col("doc_b"),
        round(col("n_inter") / (col("na") + col("nb") - col("n_inter")), 6).as("jaccard")
      )
  }

  /** One-sided shingle CONTAINMENT C(A→B) = |A∩B| / |A| for each LSH
    * candidate pair — the asymmetric near-dup measure Jaccard dilutes
    * (Broder's containment companion to resemblance): a document
    * quoted wholesale inside a much larger one scores ≈1 on
    * containment while its Jaccard shrinks toward |A|/|B|, so the
    * quote/boilerplate-inclusion class of near-dup only this measure
    * catches. Rides the SAME banded candidates and row-local
    * shingle-hash sets as [[jaccard]] (no new corpus pass, no
    * all-pairs); emits both directions plus the `contained` flag at
    * max(cont) ≥ 0.8, compared on the ROUNDED values (ulp-proof
    * threshold, artifact_mask precedent). Exact integer ratios k/n are
    * the exact-half 6dp class → Dsp.round6 on BOTH engines.
    */
  def containment(docs: DataFrame): DataFrame = {
    val cands = minhashCandidates(docs)
    val dsha = docs
      .select(
        col("doc_id"),
        graft.functions.exprs
          .shingle_hash_set(split(col("text"), " "), 3, TextStats.maxTokens)
          .as("shs")
      )
    cands
      .join(dsha.select(col("doc_id").as("doc_a"), col("shs").as("sha")), Seq("doc_a"))
      .join(dsha.select(col("doc_id").as("doc_b"), col("shs").as("shb")), Seq("doc_b"))
      .select(
        col("doc_a"),
        col("doc_b"),
        size(array_intersect(col("sha"), col("shb"))).cast("long").as("n_inter"),
        size(col("sha")).cast("long").as("na"),
        size(col("shb")).cast("long").as("nb")
      )
      // match the join-based oracle: empty intersections emit nothing
      .filter(col("n_inter") > 0)
      .select(
        col("doc_a"),
        col("doc_b"),
        graft.core.Dsp.round6(col("n_inter") / col("na")).as("cont_a"),
        graft.core.Dsp.round6(col("n_inter") / col("nb")).as("cont_b")
      )
      .withColumn("contained", greatest(col("cont_a"), col("cont_b")) >= lit(0.8))
  }

  val containmentSql: String = {
    val ca = graft.core.Dsp.round6Sql("i.n_inter / ca.n_sh")
    val cb = graft.core.Dsp.round6Sql("i.n_inter / cb.n_sh")
    s"WITH $signaturesSql, $bandsSql, " +
      "cands AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b FROM bands a " +
      s"JOIN bands b ON $bandJoinOn AND a.doc_id < b.doc_id), " +
      "cnts AS (SELECT doc_id, count(*) AS n_sh FROM dsh GROUP BY doc_id), " +
      "inter AS (SELECT c.doc_a, c.doc_b, count(*) AS n_inter FROM cands c " +
      "JOIN dsh x ON x.doc_id = c.doc_a JOIN dsh y ON y.doc_id = c.doc_b AND y.sh = x.sh " +
      "GROUP BY c.doc_a, c.doc_b), " +
      s"cont AS MATERIALIZED (SELECT i.doc_a, i.doc_b, $ca AS cont_a, $cb AS cont_b " +
      "FROM inter i JOIN cnts ca ON ca.doc_id = i.doc_a JOIN cnts cb ON cb.doc_id = i.doc_b) " +
      s"SELECT doc_a, doc_b, cont_a, cont_b, " +
      s"(greatest(cont_a, cont_b) >= ${graft.core.Dsp.lit(0.8)}) AS contained FROM cont"
  }

  /** Edit-distance clip: verify cost is O(clip²) per candidate pair
    * regardless of document length — the bounded-cost contract an
    * all-lengths levenshtein would break at 100 TB.
    */
  val editClip = 512

  /** Edit-distance near-dup verification of the banded-LSH candidates —
    * the character-level member of the dedup family (Jaccard is
    * set-level, SimHash bit-level): every candidate pair scored with
    * levenshtein over the first [[editClip]] chars, `is_dup` at
    * normalized distance ≤ `maxNorm`. Distance and lengths are exact
    * integers on both engines (the corpus is ASCII; NOTE Spark counts
    * code points where DuckDB counts bytes, so a production non-ASCII
    * corpus must normalize first or route through the Jaccard verify).
    *
    * Scale shape: candidates come from the same banded equi-join as
    * dedup_minhash (a sliver of the corpus); the quadratic-in-clip
    * levenshtein runs row-locally on exactly those pairs.
    */
  def editDupes(docs: DataFrame, maxNorm: Double = 0.3): DataFrame = {
    val txt = docs.select(col("doc_id"), substring(col("text"), 1, editClip).as("t"))
    minhashCandidates(docs)
      .join(txt.select(col("doc_id").as("doc_a"), col("t").as("ta")), Seq("doc_a"))
      .join(txt.select(col("doc_id").as("doc_b"), col("t").as("tb")), Seq("doc_b"))
      .select(
        col("doc_a"),
        col("doc_b"),
        levenshtein(col("ta"), col("tb")).cast("long").as("lev"),
        greatest(length(col("ta")), length(col("tb"))).cast("long").as("len_max")
      )
      .withColumn("norm_edit", graft.core.Dsp.round6(col("lev") / col("len_max")))
      .withColumn("is_dup", col("lev") <= col("len_max") * lit(maxNorm))
  }

  def editDupesSql(maxNorm: Double = 0.3): String =
    s"WITH $signaturesSql, $bandsSql, " +
      "cands AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b FROM bands a " +
      s"JOIN bands b ON $bandJoinOn AND a.doc_id < b.doc_id), " +
      s"txt AS MATERIALIZED (SELECT doc_id, substr(text, 1, $editClip) AS t FROM documents), " +
      "sc AS (SELECT c.doc_a, c.doc_b, CAST(levenshtein(ta.t, tb.t) AS BIGINT) AS lev, " +
      "CAST(greatest(length(ta.t), length(tb.t)) AS BIGINT) AS len_max " +
      "FROM cands c JOIN txt ta ON ta.doc_id = c.doc_a JOIN txt tb ON tb.doc_id = c.doc_b) " +
      s"SELECT doc_a, doc_b, lev, len_max, " +
      s"${graft.core.Dsp.round6Sql("CAST(lev AS DOUBLE) / len_max")} AS norm_edit, " +
      s"lev <= len_max * ${graft.core.Dsp.lit(maxNorm)} AS is_dup FROM sc"

  /** CTE chain ending in `jac(doc_a, doc_b, jaccard)` — the verified
    * LSH-candidate Jaccard scores; shared by the jaccard dump and the
    * minhash-pipeline components oracle.
    */
  private val jaccardCtes: String =
    s"$signaturesSql, $bandsSql, " +
      "cands AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b FROM bands a " +
      s"JOIN bands b ON $bandJoinOn AND a.doc_id < b.doc_id), " +
      "cnts AS (SELECT doc_id, count(*) AS n_sh FROM dsh GROUP BY doc_id), " +
      "inter AS (SELECT c.doc_a, c.doc_b, count(*) AS n_inter FROM cands c " +
      "JOIN dsh x ON x.doc_id = c.doc_a JOIN dsh y ON y.doc_id = c.doc_b AND y.sh = x.sh " +
      "GROUP BY c.doc_a, c.doc_b), " +
      "jac AS MATERIALIZED (SELECT i.doc_a, i.doc_b, round(i.n_inter / (ca.n_sh + cb.n_sh - i.n_inter), 6) AS jaccard " +
      "FROM inter i JOIN cnts ca ON ca.doc_id = i.doc_a JOIN cnts cb ON cb.doc_id = i.doc_b)"

  val jaccardSql: String =
    s"WITH $jaccardCtes SELECT doc_a, doc_b, jaccard FROM jac"

  /** Ingest-time (incremental) near-dup: a new batch of documents is
    * screened against the already-indexed corpus WITHOUT re-deduping the
    * corpus — the pattern every continuously-ingesting pipeline runs,
    * where re-running [[minhashCandidates]] over 100 TB per ingest is
    * not an option. The batch is the md5(doc_id) % 10 == 7 slice (~10%,
    * the deterministic split convention); the index is the rest.
    *
    * The index side is persisted to parquet as TWO stores — banded
    * signatures AND shingle-hash sets — and the batch joins against the
    * store read-backs. At production scale the stores are maintained
    * incrementally (append per ingest); the gate build rehearses that
    * cadence: slice A (buckets 0–4) seeds both stores with `overwrite`,
    * then slice B (the remaining index buckets) is APPENDED — a
    * per-ingest cost of one batch scan plus an append, never a
    * full-store rewrite. One screening then costs: one scan of the
    * BATCH text (signatures + shingle sets are row-local projections),
    * one equi-join of batch band keys against the signature store, and
    * Jaccard verification joining candidates against the shingle store.
    * The indexed corpus TEXT is never re-read and the batch is
    * checkpointed after its single scan — the RETURNED plan reads only
    * the checkpointed batch and the parquet stores, no `documents`
    * relation at all (PlanAuditSpec asserts this); candidate volume is
    * bounded by the banded-LSH selectivity exactly as in the batch
    * pipeline.
    *
    * Re-constructing the query in one JVM rebuilds the stores (Scratch
    * empties the dir on re-acquisition) with byte-identical content —
    * the gate/bench construct-then-execute serially, so a previously
    * returned DataFrame stays valid; only a concurrent
    * construct-while-executing race could observe a half-built store.
    *
    * Output: one row per batch doc — candidate count, the minimum
    * verified-duplicate index doc rendered as a string (`''` if none;
    * the min is taken on the BIGINT id, then cast) and the dup flag.
    */
  def incrementalDedup(docs: DataFrame, tau: Double = 0.7): DataFrame = {
    val spark = docs.sparkSession
    val bucket = conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
      .cast("long") % 10
    // each slice feeds TWO store writes and the batch feeds THREE plan
    // references — eager-checkpoint each filtered slice BEFORE the
    // fan-out (CLAUDE.md components() precedent) so one ingest pays
    // exactly one documents scan per slice, not one per reference;
    // ContextCleaner reclaims the blocks
    val batch = docs.filter(bucket === 7).localCheckpoint(true)
    def shingleSets(d: DataFrame): DataFrame = d.select(
      col("doc_id"),
      graft.functions.exprs
        .shingle_hash_set(split(col("text"), " "), 3, TextStats.maxTokens)
        .as("shs")
    )
    val store = graft.sources.Scratch.dir("dedup_incremental")
    val sigStore = s"$store/sigs"
    val shStore = s"$store/shingles"
    val sliceA = docs.filter(bucket =!= 7 && bucket <= 4).localCheckpoint(true)
    val sliceB = docs.filter(bucket =!= 7 && bucket > 4).localCheckpoint(true)
    bandedSignatures(sliceA).write.mode("overwrite").parquet(sigStore)
    shingleSets(sliceA).write.mode("overwrite").parquet(shStore)
    bandedSignatures(sliceB).write.mode("append").parquet(sigStore)
    shingleSets(sliceB).write.mode("append").parquet(shStore)
    val idxSigs = spark.read
      .parquet(sigStore)
      .select(col("doc_id").as("doc_idx"), col("band"), col("bh"))
    val newSigs = bandedSignatures(batch)
      .select(col("doc_id").as("doc_new"), col("band"), col("bh"))
    val cands = newSigs
      .join(idxSigs, Seq("band", "bh"))
      .select(col("doc_new"), col("doc_idx"))
      .distinct()
    val batchSh = shingleSets(batch)
    val idxSh = spark.read
      .parquet(shStore)
      .select(col("doc_id").as("doc_idx"), col("shs").as("shb"))
    val scored = cands
      .join(batchSh.select(col("doc_id").as("doc_new"), col("shs").as("sha")), Seq("doc_new"))
      .join(idxSh, Seq("doc_idx"))
      .select(
        col("doc_new"),
        col("doc_idx"),
        size(array_intersect(col("sha"), col("shb"))).cast("double").as("ni"),
        size(col("sha")).cast("double").as("na"),
        size(col("shb")).cast("double").as("nb")
      )
      .select(
        col("doc_new"),
        col("doc_idx"),
        round(col("ni") / (col("na") + col("nb") - col("ni")), 6).as("jac")
      )
    val agg = scored
      .groupBy(col("doc_new"))
      .agg(
        count(lit(1)).as("n_cand"),
        min(when(col("jac") >= tau, col("doc_idx"))).as("dup_of")
      )
      .withColumnRenamed("doc_new", "doc_id")
    batch
      .select(col("doc_id"))
      .join(agg, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        coalesce(col("n_cand"), lit(0L)).as("n_cand"),
        coalesce(col("dup_of").cast("string"), lit("")).as("dup_of"),
        col("dup_of").isNotNull.as("is_dup")
      )
  }

  def incrementalDedupSql(tau: Double = 0.7): String = {
    def h(alias: String) =
      s"CAST(concat('0x', substr(md5(CAST($alias.doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 10"
    s"WITH $signaturesSql, $bandsSql, " +
      s"cands AS (SELECT DISTINCT b.doc_id AS doc_new, a.doc_id AS doc_idx FROM bands a " +
      s"JOIN bands b ON $bandJoinOn AND a.doc_id <> b.doc_id " +
      s"WHERE ${h("a")} <> 7 AND ${h("b")} = 7), " +
      "cnts AS (SELECT doc_id, count(*) AS n_sh FROM dsh GROUP BY doc_id), " +
      "inter AS (SELECT c.doc_new, c.doc_idx, count(*) AS n_inter FROM cands c " +
      "JOIN dsh x ON x.doc_id = c.doc_new JOIN dsh y ON y.doc_id = c.doc_idx AND y.sh = x.sh " +
      "GROUP BY c.doc_new, c.doc_idx), " +
      "jacs AS (SELECT c.doc_new, c.doc_idx, " +
      "round(coalesce(i.n_inter, 0) / (ca.n_sh + cb.n_sh - coalesce(i.n_inter, 0)), 6) AS jac " +
      "FROM cands c LEFT JOIN inter i ON i.doc_new = c.doc_new AND i.doc_idx = c.doc_idx " +
      "JOIN cnts ca ON ca.doc_id = c.doc_new JOIN cnts cb ON cb.doc_id = c.doc_idx), " +
      "agg AS (SELECT doc_new AS doc_id, count(*) AS n_cand, " +
      s"min(CASE WHEN jac >= ${graft.core.Dsp.lit(tau)} THEN doc_idx END) AS dup_of " +
      "FROM jacs GROUP BY doc_new) " +
      "SELECT d.doc_id, CAST(coalesce(a.n_cand, 0) AS BIGINT) AS n_cand, " +
      "coalesce(CAST(a.dup_of AS VARCHAR), '') AS dup_of, a.dup_of IS NOT NULL AS is_dup " +
      s"FROM documents d LEFT JOIN agg a ON a.doc_id = d.doc_id WHERE ${h("d")} = 7"
  }

  /** 64-bit SimHash from the first 16 hex chars of each token's md5:
    * per bit, sum ±1 over all token occurrences, bit set on positive
    * majority; emitted as two 32-bit halves (exact in BIGINT).
    */
  def simhash(docs: DataFrame): DataFrame = {
    // Row-local SimHash64 expression: per-token md5 bit votes and the
    // majority pack run in one pass over the split token array — a pure
    // projection, no token explode and no exchange at all (r5 rework;
    // the r3 form was 64 conditional aggregates over an exploded token
    // shuffle). Bit values are identical to the hex-nibble walk the
    // oracle runs.
    docs
      .select(
        col("doc_id"),
        graft.functions.exprs.simhash64(split(col("text"), " "), TextStats.maxTokens).as("s2")
      )
      .select(
        col("doc_id"),
        element_at(col("s2"), 1).as("sim_hi"),
        element_at(col("s2"), 2).as("sim_lo")
      )
  }

  /** CTE chain ending in `sig(doc_id, sim_hi, sim_lo)` — shared by the
    * signature dump and the hamming pair stage.
    */
  private val simhashCtes: String = {
    val hv = "instr('0123456789abcdef', substr(h, CAST(b // 4 + 1 AS INT), 1)) - 1"
    s"${TextStats.tokensSql}, th AS (SELECT doc_id, md5(tok) AS h FROM tokens), " +
      s"bits AS (SELECT doc_id, g.b AS b, CAST(floor(($hv) / power(2.0e0, 3 - g.b % 4)) AS BIGINT) % 2 AS bit " +
      "FROM th, generate_series(0, 63) g(b)), " +
      "maj AS (SELECT doc_id, b, CASE WHEN sum(bit * 2 - 1) > 0 THEN 1 ELSE 0 END AS s FROM bits GROUP BY doc_id, b), " +
      // CAST outer sums to BIGINT: DuckDB sum(int) yields HUGEINT, which
      // pandas renders as float64 ("42.0" vs "42" → hash mismatch).
      "sig AS MATERIALIZED (SELECT doc_id, CAST(sum(CASE WHEN b < 32 THEN s * CAST(power(2.0e0, 31 - b) AS BIGINT) ELSE 0 END) AS BIGINT) AS sim_hi, " +
      "CAST(sum(CASE WHEN b >= 32 THEN s * CAST(power(2.0e0, 63 - b) AS BIGINT) ELSE 0 END) AS BIGINT) AS sim_lo " +
      "FROM maj GROUP BY doc_id)"
  }

  val simhashSql: String = s"WITH $simhashCtes SELECT doc_id, sim_hi, sim_lo FROM sig"

  /** SimHash near-duplicate pairs (Charikar): band the 64-bit signature
    * into 4×16-bit chunks, candidates = docs sharing any chunk (an
    * equi-join — by pigeonhole any pair within hamming ≤ 3 shares one of
    * the 4 chunks, so recall is exact), verify popcount(xor) ≤ 3 on the
    * two 32-bit halves. Never O(n²); hot chunks are AQE skew territory.
    */
  def simhashPairs(docs: DataFrame, maxHamming: Int = 3): DataFrame = {
    // signature halves ride along with the banded chunks: the pair row
    // out of the equi-join already carries both signatures, so the
    // simhash subtree appears exactly twice (two identical sides → one
    // exchange, reused) instead of once per verification join
    val chunks = simhash(docs).select(
      col("doc_id"),
      col("sim_hi"),
      col("sim_lo"),
      posexplode(
        array(
          shiftright(col("sim_hi"), 16),
          col("sim_hi").bitwiseAND(lit(65535L)),
          shiftright(col("sim_lo"), 16),
          col("sim_lo").bitwiseAND(lit(65535L))
        )
      ).as(Seq("ci", "chunk"))
    )
    val a = chunks.select(
      col("doc_id").as("doc_a"), col("sim_hi").as("hi_a"), col("sim_lo").as("lo_a"),
      col("ci"), col("chunk"))
    val b = chunks.select(
      col("doc_id").as("doc_b"), col("sim_hi").as("hi_b"), col("sim_lo").as("lo_b"),
      col("ci"), col("chunk"))
    a.join(b, Seq("ci", "chunk"))
      .filter(col("doc_a") < col("doc_b"))
      .select(
        col("doc_a"),
        col("doc_b"),
        (bit_count(col("hi_a").bitwiseXOR(col("hi_b"))) +
          bit_count(col("lo_a").bitwiseXOR(col("lo_b")))).cast("long").as("hamming")
      )
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** CTE chain ending in `pairs(doc_a, doc_b, hamming)` — the verified
    * hamming≤3 near-dup pairs; shared by the pair dump and the
    * connected-components oracle.
    */
  private val simhashPairsCtes: String =
    s"$simhashCtes, " +
      "chunks AS MATERIALIZED (SELECT doc_id, g.ci AS ci, CASE g.ci WHEN 0 THEN sim_hi // 65536 WHEN 1 THEN sim_hi % 65536 " +
      "WHEN 2 THEN sim_lo // 65536 ELSE sim_lo % 65536 END AS chunk FROM sig, generate_series(0, 3) g(ci)), " +
      "cand AS MATERIALIZED (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b FROM chunks a " +
      "JOIN chunks b ON a.ci = b.ci AND a.chunk = b.chunk AND a.doc_id < b.doc_id), " +
      "pairs AS MATERIALIZED (SELECT doc_a, doc_b, hamming FROM (SELECT c.doc_a, c.doc_b, " +
      "CAST(bit_count(xor(sa.sim_hi, sb.sim_hi)) + bit_count(xor(sa.sim_lo, sb.sim_lo)) AS BIGINT) AS hamming " +
      "FROM cand c JOIN sig sa ON sa.doc_id = c.doc_a JOIN sig sb ON sb.doc_id = c.doc_b) WHERE hamming <= 3)"

  val simhashPairsSql: String =
    s"WITH $simhashPairsCtes SELECT doc_a, doc_b, hamming FROM pairs"

  /** The pair CTE chain re-rooted at `src(doc_id, text, …)` instead of
    * the documents table — lets composed pipelines (curate_full) run
    * the near-dup stage over an already-filtered doc set. The chain
    * has exactly one scan site (the `toks` CTE).
    */
  def simhashPairsCtesFrom(src: String): String = {
    val out = simhashPairsCtes.replace("FROM documents)", s"FROM $src)")
    require(out != simhashPairsCtes, "scan site not found in simhash CTE chain")
    out
  }

  /** Connected components over an undirected near-dup pair graph —
    * the step that turns pairwise candidates into actual dedup groups
    * (every doc gets `comp_id` = the smallest doc_id reachable from it;
    * a pipeline then keeps one doc per comp_id). Ids are read as
    * BIGINT; an edge with a null end connects nothing and is dropped.
    *
    * Edge store: both orientations of every pair from ONE evaluation of
    * `pairs` (the subtree is often an LSH candidate pipeline), hash-
    * partitioned by `dst`, eagerly localCheckpointed. Unsorted and
    * partitioned by the round join key, so a round's edges⋈labels join
    * shuffles only the labels side.
    *
    * Seed: a union-find over each edge partition (local contraction,
    * Łącki et al. 2018), rooted at the smallest id of its local
    * component; then per node the min and max of its roots across
    * partitions, in one eager checkpoint. An Observation on that action
    * counts the nodes whose min ≠ max. When the count is 0 the seed is
    * already every component's minimum: each edge lies inside one
    * partition's local component, so its two ends get the same root
    * there, and agreeing roots are therefore constant along every edge,
    * i.e. across a component; the component's minimum is its own root
    * wherever it appears. Then no round runs — the common case after
    * AQE coalesces a gate- or bench-sized edge store to one partition.
    *
    * Fallback rounds (only on disagreement), from the seed's min root.
    * Each round (1) a node takes the min of its own and its neighbours'
    * labels (one aggregation, eagerly checkpointed); (2) hook: the node
    * a label names takes the least label any node carrying it reached;
    * (3) pointer jump `comp := comp(comp)`. Without the hook a label
    * learns nothing until propagation walks back to the local minimum
    * it names, which is O(diameter) rounds on a chain with shuffled ids;
    * with it every labelled tree merges into a neighbouring one each
    * round, O(log n) rounds. Invariant: a label is an id in the node's
    * component and ≤ the node, so the component minimum labels itself.
    * Witness: an Observation on the checkpoint's action counts the labels
    * step (1) lowered. 0 means labels are constant along every edge,
    * hence equal to the component minimum, and the loop stops there (no
    * separate witness job, no sentinel). Every checkpoint's size
    * estimate is its observed row count (see [[graft.core.Rounds]]).
    *
    * Memory outside Spark's manager (neither spills): the per-partition
    * union-find ([[LongUnionFind]]) holds at most 40 bytes per distinct
    * node, and distinct nodes ≤ 2 × the edge rows of the partition; and
    * the rounds' SHUFFLE_HASH joins build the labels side in memory per
    * partition (ADVICE low #1) — beyond the measured docs100 decade a
    * partition's build could OOM where a sort-merge join would spill.
    */
  def components(nodes: DataFrame, pairs: DataFrame, maxIters: Int = 25): DataFrame = {
    val labels = componentLabels(pairs, maxIters)._1
    val idType = nodes.schema("doc_id").dataType
    nodes
      .join(labels, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("comp"), col("doc_id")).cast(idType).as("comp_id"))
  }

  /** (doc_id, comp) for every node that touches an edge — the body of
    * [[components]] — plus the number of fallback rounds it ran.
    */
  private[graft] def componentLabels(pairs: DataFrame, maxIters: Int): (DataFrame, Int) = {
    val spark = pairs.sparkSession
    import spark.implicits._
    val (edges, seed, split) = Rounds.round("components", 0) {
      val (edges, _) = Rounds.checkpoint(
        pairs
          .select(
            explode(
              array(
                struct(col("doc_a").cast("long").as("src"), col("doc_b").cast("long").as("dst")),
                struct(col("doc_b").cast("long").as("src"), col("doc_a").cast("long").as("dst"))
              )
            ).as("e")
          )
          .select(col("e.src").as("src"), col("e.dst").as("dst"))
          .filter(col("src").isNotNull && col("dst").isNotNull)
          .repartition(col("dst"))
      )
      val (seed, split) = Rounds.checkpoint(
        edges
          .as[(Long, Long)]
          .mapPartitions { it =>
            val uf = new LongUnionFind
            it.foreach { case (s, d) => uf.union(s, d) }
            Iterator.tabulate(uf.size)(i => (uf.id(i), uf.rootId(i)))
          }
          .toDF("doc_id", "root")
          .groupBy(col("doc_id"))
          .agg(min(col("root")).as("comp"), max(col("root")).as("hi")),
        count(when(col("comp") =!= col("hi"), lit(1))).as("changed")
      )
      (edges, seed.select(col("doc_id"), col("comp")), split("changed"))
    }
    val run = Rounds.fixpoint("components", seed, maxIters, split) { labels =>
      val msgs = edges
        .join(labels.select(col("doc_id").as("dst"), col("comp").as("nc")).hint("SHUFFLE_HASH"), Seq("dst"))
        .select(col("src").as("doc_id"), col("nc").as("comp"), lit(null).cast("long").as("old"))
      // eager: stepped feeds the hook and both sides of the jump
      val (stepped, lowered) = Rounds.checkpoint(
        labels
          .select(col("doc_id"), col("comp"), col("comp").as("old"))
          .unionByName(msgs)
          .groupBy(col("doc_id"))
          .agg(min(col("comp")).as("comp"), min(col("old")).as("old")),
        count(when(col("comp") < col("old"), lit(1))).as("changed")
      )
      val next =
        if (lowered("changed") == 0) stepped.select(col("doc_id"), col("comp"))
        else {
          val hooked = stepped
            .select(col("doc_id"), col("comp"))
            .unionByName(stepped.select(col("old").as("doc_id"), col("comp")))
            .groupBy(col("doc_id"))
            .agg(min(col("comp")).as("comp"))
          // labels are ids of edge nodes, so the self-join is total
          hooked
            .join(
              hooked.select(col("doc_id").as("jid"), col("comp").as("jcomp")).hint("SHUFFLE_HASH"),
              col("comp") === col("jid")
            )
            .select(col("doc_id"), col("jcomp").as("comp"))
        }
      (next, lowered("changed"))
    }
    require(run.converged, s"components: not converged after $maxIters rounds")
    (run.frame, run.rounds)
  }

  /** Union-find over arbitrary 64-bit ids in primitive arrays; each root
    * is the smallest id of its set. Ids are numbered densely in arrival
    * order (`ids`, `parent`), and an open-addressing table (`slots`,
    * index + 1, 0 = empty, load ≤ 1/2) maps an id to its number. With n
    * ids: slots ≤ 4n ints, ids < 2n longs, parent < 2n ints — at most
    * 40 bytes per id, plus the array being copied while one grows.
    */
  private[graft] final class LongUnionFind {
    private var slots = new Array[Int](16)
    private var ids = new Array[Long](8)
    private var parent = new Array[Int](8)
    private var n = 0

    def size: Int = n
    def id(i: Int): Long = ids(i)
    def rootId(i: Int): Long = ids(find(i))

    def union(a: Long, b: Long): Unit = {
      val ra = find(index(a))
      val rb = find(index(b))
      if (ra != rb) {
        if (ids(ra) < ids(rb)) parent(rb) = ra else parent(ra) = rb
      }
    }

    private def find(i0: Int): Int = {
      var i = i0
      while (parent(i) != i) {
        parent(i) = parent(parent(i)) // path halving
        i = parent(i)
      }
      i
    }

    private def slot(id: Long): Int = {
      // murmur3's 64-bit finalizer: strided ids (replica offsets) spread
      var z = (id ^ (id >>> 33)) * 0xff51afd7ed558ccdL
      z = (z ^ (z >>> 33)) * 0xc4ceb9fe1a85ec53L
      (z ^ (z >>> 33)).toInt & (slots.length - 1)
    }

    private def index(id: Long): Int = {
      val mask = slots.length - 1
      var h = slot(id)
      while (slots(h) != 0 && ids(slots(h) - 1) != id) h = (h + 1) & mask
      if (slots(h) != 0) slots(h) - 1
      else {
        if (n == ids.length) {
          ids = java.util.Arrays.copyOf(ids, 2 * n)
          parent = java.util.Arrays.copyOf(parent, 2 * n)
        }
        ids(n) = id
        parent(n) = n
        n += 1
        slots(h) = n
        if (2 * n > slots.length) grow()
        n - 1
      }
    }

    private def grow(): Unit = {
      slots = new Array[Int](2 * slots.length)
      val mask = slots.length - 1
      var i = 0
      while (i < n) {
        var h = slot(ids(i))
        while (slots(h) != 0) h = (h + 1) & mask
        slots(h) = i + 1
        i += 1
      }
    }
  }

  /** Oracle: transitive min-reachability as a recursive CTE — `reach`
    * enumerates (doc, reachable doc) pairs (UNION dedup bounds it at
    * Σ component-size², fine for gate-scale clusters), then comp_id =
    * min over the reach set. Algorithm-independent: the converged
    * Spark labels are the same canonical minima.
    */
  /** The shared recursive reach prefix (through CTE `reach`) — the
    * component labeling itself ([[componentsSql]]) and the size
    * histogram ([[clusterSizesSql]]) both finish off it.
    */
  private val componentsSqlPrefix: String =
    s"WITH RECURSIVE $simhashPairsCtes, " +
      "edges AS MATERIALIZED (SELECT doc_a AS src, doc_b AS dst FROM pairs " +
      "UNION ALL SELECT doc_b, doc_a FROM pairs), " +
      "reach AS (SELECT doc_id, doc_id AS anc FROM documents " +
      "UNION SELECT r.doc_id AS doc_id, e.dst AS anc FROM reach r JOIN edges e ON e.src = r.anc)"

  val componentsSql: String =
    s"$componentsSqlPrefix " +
      "SELECT doc_id, min(anc) AS comp_id FROM reach GROUP BY doc_id"

  /** Near-dup CLUSTER-SIZE distribution — the dedup-QA histogram a
    * pipeline review reads to sanity-check its near-dup config (a fat
    * tail of giant clusters means the similarity threshold or band
    * width is wrong — boilerplate is fusing unrelated docs; all-
    * singletons means the screen is dead): (size, n_components) over
    * the simhash component labeling, plus how many docs dedup would
    * drop at that size (size − 1 per component). Two grid-sized
    * aggregations on top of the existing components pass.
    */
  def clusterSizes(docs: DataFrame): DataFrame =
    components(
      docs.select(col("doc_id")),
      simhashPairs(docs).select(col("doc_a"), col("doc_b"))
    )
      .groupBy(col("comp_id"))
      .agg(count(lit(1)).as("size"))
      .groupBy(col("size"))
      .agg(count(lit(1)).as("n_components"))
      .withColumn("docs_dropped", (col("size") - 1L) * col("n_components"))

  val clusterSizesSql: String =
    s"$componentsSqlPrefix, " +
      "comp AS (SELECT doc_id, min(anc) AS comp_id FROM reach GROUP BY doc_id), " +
      "sz AS (SELECT comp_id, count(*) AS size FROM comp GROUP BY comp_id) " +
      "SELECT size, count(*) AS n_components, " +
      "CAST((size - 1) * count(*) AS BIGINT) AS docs_dropped FROM sz GROUP BY size"

  /** Dedup threshold-tuning curve — the QA table that picks the
    * simhash hamming cutoff: for every threshold h in the EXACT regime
    * (h ≤ 3 — the 4×16-bit banding guarantees recall there; beyond it
    * pairs are candidates-only, deliberately out of this table),
    * the cumulative pair count, how many docs have ANY partner at
    * ≤ h, and how many the keep-min rule would DROP (docs with a
    * smaller-id partner). One pairs pass (checkpointed — three
    * aggregations read it), each a keyed aggregation + a ≤4-value
    * threshold explode (`sequence(hamming, 3)` ascends — hamming ≤ 3
    * by construction, never the descending-sequence trap); the h-keyed
    * joins are 4-row broadcasts. Reading the curve: n_dropped jumping
    * between h and h+1 means the corpus has a near-dup band there —
    * the dedup_cluster_sizes fat-tail check's tuning companion.
    */
  def thresholdCurve(docs: DataFrame): DataFrame = {
    val pairs = simhashPairs(docs).localCheckpoint()
    def cum(df: DataFrame, minCol: String, out: String): DataFrame =
      df.select(explode(sequence(col(minCol), lit(3L))).as("h"))
        .groupBy(col("h"))
        .agg(count(lit(1)).as(out))
    val nPairs = cum(pairs, "hamming", "n_pairs")
    val matched = cum(
      pairs
        .select(col("doc_a").as("doc"), col("hamming"))
        .unionByName(pairs.select(col("doc_b").as("doc"), col("hamming")))
        .groupBy(col("doc"))
        .agg(min(col("hamming")).as("mh")),
      "mh",
      "n_docs_matched"
    )
    val dropped = cum(
      pairs.groupBy(col("doc_b")).agg(min(col("hamming")).as("mh")),
      "mh",
      "n_docs_dropped"
    )
    nPairs
      .join(matched, Seq("h"), "left")
      .join(dropped, Seq("h"), "left")
      .select(
        col("h"),
        col("n_pairs"),
        coalesce(col("n_docs_matched"), lit(0L)).as("n_docs_matched"),
        coalesce(col("n_docs_dropped"), lit(0L)).as("n_docs_dropped")
      )
  }

  val thresholdCurveSql: String =
    s"WITH $simhashPairsCtes, " +
      "e AS (SELECT g.h AS h FROM pairs, generate_series(0, 3) g(h) WHERE g.h >= hamming), " +
      "np AS (SELECT h, count(*) AS n_pairs FROM e GROUP BY h), " +
      "mh AS (SELECT doc, min(hamming) AS mh FROM " +
      "(SELECT doc_a AS doc, hamming FROM pairs UNION ALL SELECT doc_b, hamming FROM pairs) GROUP BY doc), " +
      "nm AS (SELECT g.h AS h, count(*) AS n_docs_matched FROM mh, generate_series(0, 3) g(h) WHERE g.h >= mh GROUP BY 1), " +
      "md AS (SELECT doc_b AS doc, min(hamming) AS mh FROM pairs GROUP BY doc_b), " +
      "nd AS (SELECT g.h AS h, count(*) AS n_docs_dropped FROM md, generate_series(0, 3) g(h) WHERE g.h >= mh GROUP BY 1) " +
      "SELECT np.h AS h, CAST(n_pairs AS BIGINT) AS n_pairs, " +
      "CAST(coalesce(nm.n_docs_matched, 0) AS BIGINT) AS n_docs_matched, " +
      "CAST(coalesce(nd.n_docs_dropped, 0) AS BIGINT) AS n_docs_dropped " +
      "FROM np LEFT JOIN nm ON nm.h = np.h LEFT JOIN nd ON nd.h = np.h"

  /** Soft deduplication — duplication-aware sampling weights instead
    * of hard drops (the SoftDeDup/D4 reweighting family: removing all
    * near-dups loses diversity inside the cluster; keeping them all
    * over-trains on the repeated content; weighting each member
    * 1/|cluster| makes every dup SET contribute one doc's worth of
    * expected tokens while retaining intra-cluster variety). Per doc:
    * its near-dup component, the component size, and the sampling
    * weight 10⁶ div size in exact integer micros — the column a
    * sampler ([[graft.llm.Curation.sampleWeighted]]) consumes
    * directly as `w`. One comp_id-keyed count window on top of the
    * existing components pass; singletons (never in any pair) weight
    * 10⁶ exactly.
    */
  def softDedupWeights(docs: DataFrame): DataFrame =
    components(
      docs.select(col("doc_id")),
      simhashPairs(docs).select(col("doc_a"), col("doc_b"))
    )
      .withColumn(
        "size",
        count(lit(1)).over(org.apache.spark.sql.expressions.Window.partitionBy(col("comp_id")))
      )
      .select(
        col("doc_id"),
        col("comp_id"),
        col("size"),
        expr("1000000 div size").as("w_micros")
      )

  val softDedupWeightsSql: String =
    s"$componentsSqlPrefix, " +
      "comp AS (SELECT doc_id, min(anc) AS comp_id FROM reach GROUP BY doc_id), " +
      "sz AS (SELECT comp_id, count(*) AS size FROM comp GROUP BY comp_id) " +
      "SELECT c.doc_id, c.comp_id, CAST(sz.size AS BIGINT) AS size, " +
      "CAST(1000000 // sz.size AS BIGINT) AS w_micros FROM comp c JOIN sz USING (comp_id)"

  /** Duplicated-span counts (exact-substring dedup signal, Lee et al.
    * 2022 shape): for each doc, how many of its distinct word w-grams
    * also appear in at least one OTHER doc. High counts flag docs that
    * are largely recycled text even when no full-document pair exists.
    * Row-local `ShingleHashSet` per doc, one (hash → doc count)
    * aggregation, one semi-join back — never all-pairs.
    */
  def dupSpans(docs: DataFrame, w: Int = 5): DataFrame = {
    // localCheckpoint: dsh feeds both the shared-shingle aggregate and
    // the final join — without it the scan + shingle explode runs twice
    // (the oracle pins the same CTE with AS MATERIALIZED)
    val dsh = docs
      .select(
        col("doc_id"),
        explode(
          graft.functions.exprs.shingle_hash_set(split(col("text"), " "), w, TextStats.maxTokens)
        ).as("sh")
      )
      .localCheckpoint()
    val shared = dsh
      // (doc_id, sh) is already distinct (ShingleHashSet emits a SET
      // per doc), so plain count == distinct doc count — skip the
      // two-phase distinct-aggregate expansion
      .groupBy(col("sh"))
      .agg(count(lit(1)).as("nd"))
      .filter(col("nd") > 1)
      .select(col("sh"))
    dsh
      .join(shared, Seq("sh"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_dup_spans"))
  }

  def dupSpansSql(w: Int = 5): String = {
    // w-gram variant of the shared shingle CTE (the w=3 chain is pinned
    // by the green dedup oracles)
    val gram = (0 until w)
      .map(k => if (k == 0) "list_extract(toks, g.i)" else s"list_extract(toks, g.i + $k)")
      .mkString(" || ' ' || ")
    s"WITH toks AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents), " +
      s"sh$w AS (SELECT doc_id, $gram AS sh FROM toks, generate_series(1, ${TextStats.maxTokens}) g(i) " +
      s"WHERE g.i <= len(toks) - ${w - 1}), " +
      s"dsh AS MATERIALIZED (SELECT DISTINCT doc_id, sh FROM sh$w), " +
      "shared AS (SELECT sh FROM (SELECT sh, count(DISTINCT doc_id) AS nd FROM dsh GROUP BY sh) WHERE nd > 1) " +
      "SELECT d.doc_id, count(*) AS n_dup_spans FROM dsh d JOIN shared s ON s.sh = d.sh GROUP BY d.doc_id"
  }

  // ---- exact long-run extraction (Lee et al. 2022 §3, ExactSubstr):
  // maximal cross-doc shared token runs of length ≥ runLen, found
  // EXACTLY (up to md5 width — the dedup_exact convention) without a
  // suffix array: a shared run of length R ≥ runLen contains exactly
  // R − runLen + 1 shared runLen-gram starts, all consecutive, so
  // (1) key every position by the md5 of its runLen-gram — the shuffle
  //     sorts these keys exactly like the suffix array's first-k-bytes
  //     radix pass, one (key → distinct-doc count) aggregation replaces
  //     the pairwise suffix comparison;
  // (2) positions whose gram is shared by ≥2 docs come back per doc and
  //     a gaps-and-islands window (i − row_number over i) groups the
  //     consecutive starts into maximal intervals: start = min(i),
  //     run = count + runLen − 1.
  // Never all-pairs; the only data-sized exchanges are the gram-key
  // aggregation and the per-doc island window (which reuses doc
  // partitioning). Within-doc self-repeats are deliberately NOT runs
  // (distinct-doc count, matching dupSpans' cross-doc semantics). ----

  /** Lee et al. 2022 use 50-token runs; the gate corpus (~54-token
    * docs) PLANTS deterministic shared passages so the operator is
    * non-vacuous (text_pii/curate_url precedent).
    */
  val runLen = 50
  private val runPlantLen = 60

  /** Planted passage variant v (0..2): [[runPlantLen]] tokens. */
  private def runPassage(v: Int): String =
    (1 to runPlantLen).map(i => s"r${v}x$i").mkString(" ")

  /** ONE plant expression string that parses in both engines: docs with
    * doc_id % 7 = 0 append one of three shared passages (~24 docs per
    * passage at sf0.01 — real multi-doc run groups).
    */
  val runPlant: String =
    "CASE WHEN doc_id % 7 = 0 THEN concat(text, ' ', " +
      s"CASE WHEN doc_id % 3 = 0 THEN '${runPassage(0)}' " +
      s"WHEN doc_id % 3 = 1 THEN '${runPassage(1)}' " +
      s"ELSE '${runPassage(2)}' END) ELSE text END"

  /** Maximal shared runs ≥ `w` tokens per doc: (doc_id, run_start,
    * run_len), 1-based start over the non-empty token sequence.
    */
  def sharedRuns(docs: DataFrame, w: Int = runLen): DataFrame = {
    val toks = slice(filter(split(col("text"), " "), x => x =!= ""), 1, TextStats.maxTokens)
    val grams = docs
      .select(col("doc_id"), toks.as("toks"))
      .filter(size(col("toks")) >= w)
      .select(
        col("doc_id"),
        explode(
          transform(
            sequence(lit(1), size(col("toks")) - (w - 1)),
            i => struct(i.as("i"), md5(concat_ws(" ", slice(col("toks"), i, lit(w)))).as("gh"))
          )
        ).as("g")
      )
      .select(col("doc_id"), col("g.i").as("i"), col("g.gh").as("gh"))
    runsFromGrams(grams, w)
  }

  /** SCALE path of [[sharedRuns]] (r14): identical algorithm, but the
    * position gram hash is the row-local 64-bit
    * [[graft.functions.ShingleHashes]] rolling projection instead of
    * an exploded 32-char md5 — the dedup_span_removal treatment. The
    * realistic-length decade (50k 300–800-token docs) measured the
    * md5 form spilling 1.5 GiB in the (doc_id, gh) distinct + island
    * shuffles; the 8-byte hash cuts both the per-position hashing cost
    * (O(w) md5 input per position) and the shuffle width. The gate
    * pins the md5 oracle-replayable form; Prof runs this one (the
    * LSH-band-width / nList convention), and a spec pins fast ≡ md5
    * on the planted gate corpus.
    */
  def sharedRunsFast(docs: DataFrame, w: Int = runLen): DataFrame = {
    val toks = slice(filter(split(col("text"), " "), x => x =!= ""), 1, TextStats.maxTokens)
    val grams = docs
      .select(
        col("doc_id"),
        graft.functions.exprs.shingle_hashes(toks, w, TextStats.maxTokens).as("ghs")
      )
      .select(col("doc_id"), posexplode(col("ghs")).as(Seq("i0", "gh")))
      .select(col("doc_id"), (col("i0") + 1).as("i"), col("gh"))
    runsFromGrams(grams, w)
  }

  /** Shared downstream of both gram producers: cross-doc shared-key
    * screen, then the per-doc island window -> maximal runs.
    */
  private def runsFromGrams(grams0: DataFrame, w: Int): DataFrame = {
    val grams =
      grams0.localCheckpoint() // feeds the shared-key aggregate AND the island pass
    val shared = grams
      .select(col("doc_id"), col("gh"))
      .distinct()
      .groupBy(col("gh"))
      .agg(count(lit(1)).as("nd"))
      .filter(col("nd") > 1)
      .select(col("gh"))
    val wn = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id"))
      .orderBy(col("i"))
    grams
      .join(shared, Seq("gh"))
      .select(col("doc_id"), col("i"))
      .distinct()
      .select(col("doc_id"), col("i"), (col("i") - row_number().over(wn)).as("isl"))
      .groupBy(col("doc_id"), col("isl"))
      .agg(min(col("i")).as("run_start"), (count(lit(1)) + (w - 1)).as("run_len"))
      .select(col("doc_id"), col("run_start"), col("run_len"))
  }

  /** Gate: runs over the planted corpus. Scan fan-out (guide §2.5):
    * the plant + per-position md5 gram build runs before the first
    * exchange, single-task on a single-file corpus without the fan. */
  def dedupRuns(docs: DataFrame): DataFrame =
    sharedRuns(
      graft.core.Tables.fan(docs, "doc_id").select(col("doc_id"), expr(runPlant).as("text"))
    )

  def dedupRunsSql(w: Int = runLen): String =
    s"WITH aug AS (SELECT doc_id, $runPlant AS text FROM documents), " +
      s"t0 AS (SELECT doc_id, list_slice(list_filter(string_split(text, ' '), x -> x <> ''), 1, ${TextStats.maxTokens}) AS toks FROM aug), " +
      s"g AS MATERIALIZED (SELECT doc_id, g.i AS i, " +
      s"md5(array_to_string(list_slice(toks, g.i, g.i + ${w - 1}), ' ')) AS gh " +
      s"FROM t0, generate_series(1, ${TextStats.maxTokens}) g(i) WHERE g.i <= len(toks) - ${w - 1}), " +
      "shared AS (SELECT gh FROM (SELECT gh, count(DISTINCT doc_id) AS nd FROM g GROUP BY gh) WHERE nd > 1), " +
      "dp AS (SELECT DISTINCT doc_id, i FROM g JOIN shared USING (gh)), " +
      "isl AS (SELECT doc_id, i, i - row_number() OVER (PARTITION BY doc_id ORDER BY i) AS isl FROM dp) " +
      s"SELECT doc_id, CAST(min(i) AS BIGINT) AS run_start, CAST(count(*) + ${w - 1} AS BIGINT) AS run_len " +
      "FROM isl GROUP BY doc_id, isl"

  /** Duplicate-span REMOVAL — the actual Lee et al. 2022 output: each
    * doc rewritten with every w-gram span shared with another doc
    * excised, emitting (doc_id, n_removed, md5_clean). Overlapping
    * spans merge via position coverage (union of [i, i+w-1] over dup
    * gram starts), computed row-locally from the collected start list.
    *
    * Scale: position gram-hashes are a row-local [[graft.functions.ShingleHashes]]
    * projection (the token array never rides the explode); the shared
    * set is one (hash, distinct-doc-count) aggregation; the only wide
    * join is position-rows ⋈ shared on a 64-bit hash. Start lists per
    * doc are bounded by maxTokens; the rewrite itself is a row-local
    * higher-order-function pass. Tokens are the non-empty split (the
    * rewrite re-joins with single spaces on both engines).
    */
  def spanRemoval(docs: DataFrame, w: Int = 5): DataFrame = {
    // t0 feeds the gram stream AND the final rewrite join — checkpoint
    // before the fan-out (components() precedent) so the scan + token
    // filter runs once
    val t0 = docs
      .select(col("doc_id"), filter(split(col("text"), " "), x => x =!= "").as("toks"))
      .localCheckpoint()
    val grams = t0
      .select(
        col("doc_id"),
        posexplode(
          graft.functions.exprs.shingle_hashes(col("toks"), w, TextStats.maxTokens)
        ).as(Seq("p", "gh"))
      )
      .select(col("doc_id"), (col("p") + 1).as("i"), col("gh"))
      .localCheckpoint()
    val shared = grams
      .select(col("doc_id"), col("gh"))
      .distinct()
      .groupBy(col("gh"))
      .agg(count(lit(1)).as("nd"))
      .filter(col("nd") > 1)
      .select(col("gh"))
    val covl = grams
      .join(shared, Seq("gh"))
      .select(col("doc_id"), col("i"))
      .distinct()
      // i ranges over ascending starts; sequence(i, i+w-1) ascends
      .select(col("doc_id"), explode(sequence(col("i"), col("i") + (w - 1))).as("j"))
      .distinct()
      .groupBy(col("doc_id"))
      .agg(collect_list(col("j")).as("cl"), count(lit(1)).as("n_removed"))
    t0.join(covl, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        coalesce(col("n_removed"), lit(0L)).as("n_removed"),
        md5(
          when(size(col("toks")) === 0, lit("")).otherwise(
            concat_ws(
              " ",
              transform(
                filter(
                  sequence(lit(1), size(col("toks"))),
                  j => not(array_contains(coalesce(col("cl"), array().cast("array<int>")), j))
                ),
                j => element_at(col("toks"), j)
              )
            )
          )
        ).as("md5_clean")
      )
  }

  def spanRemovalSql(w: Int = 5): String = {
    val gram = (0 until w)
      .map(k => if (k == 0) "toks[g.i]" else s"toks[g.i + $k]")
      .mkString(" || ' ' || ")
    s"WITH t0 AS MATERIALIZED (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks FROM documents), " +
      s"g AS MATERIALIZED (SELECT doc_id, g.i AS i, $gram AS sh FROM t0, " +
      s"generate_series(1, ${TextStats.maxTokens}) g(i) WHERE g.i <= len(toks) - ${w - 1}), " +
      "shared AS (SELECT sh FROM (SELECT sh, count(DISTINCT doc_id) AS nd FROM g GROUP BY sh) WHERE nd > 1), " +
      "dp AS (SELECT DISTINCT doc_id, i FROM g JOIN shared USING (sh)), " +
      s"cov AS (SELECT DISTINCT doc_id, u.j AS j FROM dp, unnest(generate_series(i, i + ${w - 1})) u(j)), " +
      "covl AS (SELECT doc_id, list(j) AS cl, count(*) AS n_removed FROM cov GROUP BY doc_id), " +
      // coalesce: DuckDB array_to_string([]) is NULL, Spark concat_ws is ''
      "clean AS (SELECT t.doc_id AS doc_id, coalesce(c.n_removed, 0) AS n_removed, " +
      "coalesce(array_to_string(list_transform(list_filter(generate_series(1, len(t.toks)), " +
      "j -> NOT list_contains(coalesce(c.cl, []), j)), j -> t.toks[j]), ' '), '') AS cleaned " +
      "FROM t0 t LEFT JOIN covl c USING (doc_id)) " +
      "SELECT doc_id, n_removed, md5(cleaned) AS md5_clean FROM clean"
  }

  /** Streaming exact dedup: first-arrival-wins per content hash with
    * O(1) state per distinct hash (the keeper's doc_id) — the stream
    * twin of [[queries]]' dedup_exact, usable unchanged on a readStream
    * source. In batch mode every hash group arrives at once and doc_id
    * order stands in for arrival order, which is what the SQL oracle
    * states; `DedupStreamSpec` exercises the cross-batch state path.
    */
  def dedupStreaming(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    docs
      .select(md5(col("text")).as("h"), col("doc_id"))
      .as[(String, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[Long, (Long, String, Boolean)](
        OutputMode.Append,
        GroupStateTimeout.NoTimeout
      ) { (h: String, rows: Iterator[(String, Long)], state: GroupState[Long]) =>
        val ids = rows.map(_._2).toArray.sorted
        var keeper = state.getOption.getOrElse(Long.MaxValue)
        val out = ids.map { id =>
          if (keeper == Long.MaxValue) { keeper = id; (id, h, false) }
          else (id, h, true)
        }
        state.update(keeper)
        out.iterator
      }
      .toDF("doc_id", "h", "is_dup")
  }

  /** Streaming MinHash-LSH near-dup candidates: banded signature rows
    * key per-bucket state by (band, band hash); each bucket remembers the
    * docs it has seen and a newly arriving doc emits a candidate pair
    * against every resident, then a stateful dropDuplicates collapses
    * multi-band hits. Usable unchanged on a readStream source — the
    * streaming generalization of [[minhashCandidates]] (in batch mode
    * every bucket arrives at once and the output is exactly the batch
    * candidate set, which is what the SQL oracle states).
    *
    * State is bounded: a bucket retains at most `maxBucket` newest
    * residents (windowed LSH — the recall/state dial at corpus scale;
    * within one batch all pairs still emit regardless of the cap).
    * `MinhashStreamSpec` exercises the cross-batch state path.
    */
  def minhashDupStreaming(docs: DataFrame, maxBucket: Int = 64): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    bandedSignatures(docs)
      .as[(Long, Int, Long)]
      .groupByKey(r => (r._2, r._3))
      .flatMapGroupsWithState[Array[Long], (Long, Long)](
        OutputMode.Append,
        GroupStateTimeout.NoTimeout
      ) { (_: (Int, Long), rows: Iterator[(Long, Int, Long)], state: GroupState[Array[Long]]) =>
        val incoming = rows.map(_._1).toArray.sorted
        val cur = scala.collection.mutable.ArrayBuffer[Long](state.getOption.getOrElse(Array.empty[Long]).toSeq: _*)
        val out = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
        for (id <- incoming) {
          for (r <- cur if r != id) out += ((math.min(r, id), math.max(r, id)))
          cur += id
        }
        state.update(cur.takeRight(maxBucket).toArray)
        out.iterator
      }
      .toDF("doc_a", "doc_b")
      .dropDuplicates("doc_a", "doc_b")
  }

  /** Streaming twin of [[incrementalDedup]]'s screening step: a
    * readStream of ingest documents LSH-screened against the static
    * signature store — banded signatures are a row-local projection on
    * the stream, the store side is a static parquet read Catalyst can
    * broadcast, and no aggregation or dropDuplicates follows, so the
    * query holds ZERO streaming state: per-microbatch cost is one batch
    * scan plus one equi-join, at any ingest duration. Candidate pairs
    * may repeat across batches (the downstream verifier dedupes);
    * keeping the screen state-free is the 100 TB design choice.
    */
  def incrementalScreenStream(docs: DataFrame, sigStore: String): DataFrame = {
    val idx = docs.sparkSession.read
      .parquet(sigStore)
      .select(col("doc_id").as("doc_idx"), col("band"), col("bh"))
    bandedSignatures(docs)
      .select(col("doc_id").as("doc_new"), col("band"), col("bh"))
      .join(idx, Seq("band", "bh"))
      .select(col("doc_new"), col("doc_idx"))
  }

  /** Persist the banded-signature store slice for [[incrementalScreenStream]]
    * (overwrite to seed, append per ingest — the cadence
    * [[incrementalDedup]] rehearses).
    */
  def writeSignatureStore(docs: DataFrame, path: String, append: Boolean): Unit =
    bandedSignatures(docs).write.mode(if (append) "append" else "overwrite").parquet(path)

  // ---------------------------------------------------------------------
  // Near-dup docs by hashed-embedding cosine (text → embedding → ANN
  // closed natively — the SemDeDup shape with no external model)
  // ---------------------------------------------------------------------

  /** Hyperplane count / banding for [[hashEmbedDupes]]. The gate
    * instance (32 planes, 4×8-bit bands) is the SQL-replayable config;
    * at corpus scale widen the bands exactly like
    * [[Similarity.embedDupeCandidates]] — background collisions are
    * ~nBands·n²·2^-width, so width must grow with log(n) (measured at
    * the sf0.1 bench: 6-bit bands admitted ~780k background candidates
    * over 5k docs and cost 12.6 s; 8-bit bands cut that 16×; the Prof
    * decade runs 16-bit).
    */
  val hePlanes = 32
  val heBands = 4

  /** Plane i's ±1 signs over the `dim` buckets packed as a 64-bit
    * literal mask (bit b = 1 ⟺ sign +1), md5-derived at query-BUILD
    * time — the engines extract sign = ((mask >> bucket) & 1)·2 − 1
    * with one shift instead of hashing per row (both arithmetic and
    * logical shifts agree on the &1 bit). Same derivation the old
    * per-row md5 used, so the signs are unchanged in distribution.
    */
  private def planeMask(i: Int, dim: Int): Long = {
    require(dim <= 64)
    val md = java.security.MessageDigest.getInstance("MD5")
    (0 until dim).foldLeft(0L) { (m, b) =>
      val hex = md.digest(s"hp$i:$b".getBytes("UTF-8")).map("%02x".format(_)).mkString
      if (java.lang.Long.parseLong(hex.substring(0, 8), 16) % 2 == 1) m | (1L << b) else m
    }
  }

  private def pSignSqlFromMask(i: Int, dim: Int): String =
    s"((${planeMask(i, dim)} >> CAST(bucket AS INT)) & 1) * 2 - 1"

  /** Near-duplicate document pairs by cosine over MEAN-CENTERED
    * [[TextStats.hashEmbed]] feature-hashed embeddings: hyperplane-LSH
    * banded candidates (an equi-join on (band, value) — never
    * all-pairs), then exact cosine ≥ τ.
    *
    * Centering is what makes the LSH prune AND the threshold separate:
    * raw signed-BoW vectors all share the corpus vocabulary component,
    * so background cosine sits ~0.7 and hyperplane signatures agree for
    * most pairs (measured on the gate corpus: 55k of 125k pairs above
    * 0.6 uncentered; centered, background mean is ~0 and only the
    * planted near-dups clear 0.8). The same subtraction SemDeDup-style
    * pipelines apply before clustering.
    *
    * Cross-engine exactness with no float-sum-order hazard: the round6
    * l2-normalized weights are exact 6-dp decimals, so micro-units
    * wi = floor(w·1e6 + 0.5) are exact BIGINTs ≤ 1e6; the centered
    * value cv = wi − floor(t_b/n) subtracts the floor-rounded bucket
    * mean (≤ 1 micro-unit centering bias; floor of a correctly-rounded
    * division of exact sub-2^53 integers is engine-identical). |cv| ≤
    * 2e6 REGARDLESS of corpus size, so hyperplane sums, cosine
    * numerator and norms stay overflow-safe exact BIGINTs at any n —
    * unlike n·s − t_b scaling, whose norms overflow 2^63 past ~5k docs.
    *
    * Scale shape: the centering totals are a dim-row aggregate
    * broadcast back; the dense centered grid is dim rows per doc; the
    * signature is one per-doc aggregation; the verify joins touch only
    * candidate pairs. At corpus scale widen the bands (see [[hePlanes]]).
    */
  /** Mean-centered dense grid + banded hyperplane signatures over an
    * integer (doc_id, bucket, s) sum frame — [[hashEmbedDupes]]'
    * machinery. Centering uses the overflow-safe floor(t_b/n)
    * micro-bias documented on [[hashEmbedDupes]]; keys absent from a
    * bucket sit at −mean, not 0 — that IS centering. Grid form: doc-level
    * hash embeddings (~90 tokens over 64 buckets) are dense in the bucket
    * space, so one checkpointed grid serves the signature aggregation
    * and the scoring joins. The chunk family computes the same values
    * row-locally instead ([[chunkVectors]]).
    * Returns (dense(key…, bucket, cv), sig(key…, n2, bv0..)) — both
    * localCheckpointed (each fans out into downstream joins).
    */
  private def gridBandSignatures(
      keys: DataFrame,
      sums: DataFrame,
      keyCols: Seq[String],
      dim: Int,
      nPlanes: Int,
      nBands: Int
  ): (DataFrame, DataFrame) = {
    require(nPlanes % nBands == 0, s"nBands $nBands must divide plane count $nPlanes")
    val width = nPlanes / nBands
    val kc = keyCols.map(col)
    val totals = sums.groupBy(col("bucket")).agg(sum(col("s")).as("t"))
    val nKeys = keys.select(count(lit(1)).as("n"))
    val dense = keys
      .select(kc :+ explode(array((0 until dim).map(b => lit(b.toLong)): _*)).as("bucket"): _*)
      .join(sums, keyCols :+ "bucket", "left")
      .join(broadcast(totals), Seq("bucket"), "left")
      .crossJoin(broadcast(nKeys))
      .select(
        kc ++ Seq(
          col("bucket"),
          (coalesce(col("s"), lit(0L)) -
            floor(coalesce(col("t"), lit(0L)).cast("double") / col("n").cast("double"))
              .cast("long")).as("cv")
        ): _*
      )
      .localCheckpoint() // referenced by the signature agg and the scoring joins
    def pSign(i: Int): Column =
      expr(s"(shiftright(CAST(${planeMask(i, dim)} AS BIGINT), CAST(bucket AS INT)) & 1) * 2 - 1")
    val aggs = (0 until nPlanes).map(i => sum(col("cv") * pSign(i)).as(s"d$i")) :+
      sum(col("cv") * col("cv")).as("n2")
    val sig = dense
      .groupBy(kc: _*)
      .agg(aggs.head, aggs.tail: _*)
      .select(
        kc ++ Seq(col("n2")) ++
          (0 until nBands).map { j =>
            (0 until width)
              .map(k => when(col(s"d${j * width + k}") > 0, lit(1L << k)).otherwise(lit(0L)))
              .reduce(_ + _)
              .as(s"bv$j")
          }: _*
      )
      .localCheckpoint() // fans out into the banded joins and norm lookups
    (dense, sig)
  }

  def hashEmbedDupes(
      docs: DataFrame,
      tau: Double = 0.8,
      dim: Int = 64,
      nPlanes: Int = hePlanes,
      nBands: Int = heBands
  ): DataFrame = {
    val wi = TextStats
      .hashEmbed(docs, dim)
      .select(col("doc_id"), col("bucket"), expr("CAST(floor(weight * 1.0e6 + 0.5e0) AS BIGINT)").as("s"))
    // distinct keys frame: the oracle's nn CTE counts DISTINCT doc_id,
    // so a documents table carrying a duplicated doc_id must not shift
    // the centering mean on the Spark side only (ADVICE r10)
    val (dense, sig) = gridBandSignatures(
      docs.select(col("doc_id")).distinct(),
      wi,
      Seq("doc_id"),
      dim,
      nPlanes,
      nBands
    )
    val bands = sig.select(
      col("doc_id"),
      posexplode(array((0 until nBands).map(j => col(s"bv$j")): _*)).as(Seq("bi", "bv"))
    )
    val cand = bands
      .select(col("doc_id").as("doc_a"), col("bi"), col("bv"))
      .join(bands.select(col("doc_id").as("doc_b"), col("bi"), col("bv")), Seq("bi", "bv"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"))
      .distinct() // a pair can share several bands; score it once
    // ARRAY-PACKED verify (r16): the grid-join form shuffled pairs × 64
    // bucket rows into a pair-keyed aggregate — at the 500k-doc decade
    // (where the replica corpus holds ~20M TRUE pairs) that 1.3e9-row
    // external sort exceeded the machine's spill disk. Packing each
    // doc's 64 centered values into ONE array row makes the dot
    // row-local: the pair stream moves each vector once per join side
    // and reduces immediately — no pair×bucket aggregate exists at any
    // scale. Values are EXACTLY the old sum: integer products ≤ 2^46
    // over 64 terms accumulate double-exactly, so the rounded cosine
    // (and the oracle, which still replays the grid sum) is unchanged.
    val packed = dense
      .groupBy(col("doc_id"))
      .agg(
        transform(
          array_sort(collect_list(struct(col("bucket"), col("cv")))),
          x => x.getField("cv").cast("double")
        ).as("vec")
      )
      .localCheckpoint() // both pair sides read it
    val num = cand
      .join(packed.select(col("doc_id").as("doc_a"), col("vec").as("va")), Seq("doc_a"))
      .join(packed.select(col("doc_id").as("doc_b"), col("vec").as("vb")), Seq("doc_b"))
      .select(
        col("doc_a"),
        col("doc_b"),
        graft.functions.exprs.dot_d(col("va"), col("vb")).as("num")
      )
    num
      .join(sig.select(col("doc_id").as("doc_a"), col("n2").as("na2")), Seq("doc_a"))
      .join(sig.select(col("doc_id").as("doc_b"), col("n2").as("nb2")), Seq("doc_b"))
      .select(
        col("doc_a"),
        col("doc_b"),
        // n2 products overflow BIGINT — cast each factor to double first
        graft.core.Dsp
          .round6(col("num") / sqrt(col("na2").cast("double") * col("nb2").cast("double")))
          .as("cos")
      )
      .filter(col("cos") >= tau)
  }

  def hashEmbedDupesSql(
      tau: Double = 0.8,
      dim: Int = 64,
      nPlanes: Int = hePlanes,
      nBands: Int = heBands
  ): String = {
    val width = nPlanes / nBands
    val ds = (0 until nPlanes)
      .map(i => s"CAST(sum(cv * (${pSignSqlFromMask(i, dim)})) AS BIGINT) AS d$i")
      .mkString(", ")
    val bandSelects = (0 until nBands)
      .map { j =>
        val bv = (0 until width)
          .map(k => s"(CASE WHEN d${j * width + k} > 0 THEN ${1L << k} ELSE 0 END)")
          .mkString(" + ")
        s"SELECT doc_id, $j AS bi, CAST($bv AS BIGINT) AS bv FROM sig"
      }
      .mkString(" UNION ALL ")
    s"WITH ${TextStats.hashEmbedCtes(dim)}, " +
      "wi AS MATERIALIZED (SELECT doc_id, bucket, " +
      "CAST(floor(weight * 1.0e6 + 0.5e0) AS BIGINT) AS wi FROM we), " +
      "tot AS MATERIALIZED (SELECT bucket, CAST(sum(wi) AS BIGINT) AS t FROM wi GROUP BY bucket), " +
      "nn AS MATERIALIZED (SELECT count(DISTINCT doc_id) AS n FROM documents), " +
      s"grid AS (SELECT d.doc_id, g.b AS bucket FROM documents d, generate_series(0, ${dim - 1}) g(b)), " +
      "dense AS MATERIALIZED (SELECT grid.doc_id, grid.bucket, " +
      "coalesce(w.wi, 0) - CAST(floor(CAST(coalesce(tt.t, 0) AS DOUBLE) / (SELECT n FROM nn)) AS BIGINT) AS cv FROM grid " +
      "LEFT JOIN wi w ON w.doc_id = grid.doc_id AND w.bucket = grid.bucket " +
      "LEFT JOIN tot tt ON tt.bucket = grid.bucket), " +
      s"sig AS MATERIALIZED (SELECT doc_id, CAST(sum(cv * cv) AS BIGINT) AS n2, $ds " +
      "FROM dense GROUP BY doc_id), " +
      s"bands AS MATERIALIZED ($bandSelects), " +
      "cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b FROM bands a " +
      "JOIN bands b ON a.bi = b.bi AND a.bv = b.bv AND a.doc_id < b.doc_id), " +
      "num AS (SELECT c.doc_a, c.doc_b, CAST(sum(x.cv * y.cv) AS BIGINT) AS num FROM cand c " +
      "JOIN dense x ON x.doc_id = c.doc_a " +
      "JOIN dense y ON y.doc_id = c.doc_b AND y.bucket = x.bucket " +
      "GROUP BY c.doc_a, c.doc_b) " +
      "SELECT doc_a, doc_b, cos FROM (SELECT n.doc_a, n.doc_b, " +
      graft.core.Dsp.round6Sql(
        "CAST(n.num AS DOUBLE) / sqrt(CAST(sa.n2 AS DOUBLE) * CAST(sb.n2 AS DOUBLE))"
      ) + " AS cos FROM num n " +
      "JOIN sig sa ON sa.doc_id = n.doc_a JOIN sig sb ON sb.doc_id = n.doc_b) " +
      s"WHERE cos >= ${graft.core.Dsp.lit(tau)}"
  }

  /** Cluster-representative selection by QUALITY: label every doc with
    * its near-dup component and flag the highest-quality member (ties
    * broken on doc_id over the round6 score — deterministic on both
    * engines) as the keeper. The realistic final step of a dedup
    * pipeline — min-id keepers ([[components]]' canonical label) throw
    * away the best copy whenever a near-dup cluster mixes qualities;
    * production dedup (e.g. the Gopher/FineWeb pipelines) keeps the
    * best-scoring representative. One rank window partitioned by
    * comp_id (bounded by cluster size, never global) on top of the
    * existing components machinery.
    */
  def keepBest(docs: DataFrame): DataFrame = {
    val comps = components(
      docs.select(col("doc_id")),
      jaccard(docs).filter(col("jaccard") >= 0.7).select(col("doc_a"), col("doc_b"))
    )
    val q = docs.select(col("doc_id"), graft.core.Dsp.round6(Curation.qualityScore).as("q"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("comp_id"))
      .orderBy(col("q").desc, col("doc_id").asc)
    comps
      .join(q, Seq("doc_id"))
      .withColumn("keep", row_number().over(w) === 1)
      .select(col("doc_id"), col("comp_id"), col("q"), col("keep"))
  }

  def keepBestSql: String =
    s"WITH RECURSIVE $jaccardCtes, " +
      "vpairs AS MATERIALIZED (SELECT doc_a, doc_b FROM jac WHERE jaccard >= 0.7e0), " +
      "edges AS MATERIALIZED (SELECT doc_a AS src, doc_b AS dst FROM vpairs " +
      "UNION ALL SELECT doc_b, doc_a FROM vpairs), " +
      "reach AS (SELECT doc_id, doc_id AS anc FROM documents " +
      "UNION SELECT r.doc_id AS doc_id, e.dst AS anc FROM reach r JOIN edges e ON e.src = r.anc), " +
      "comp AS MATERIALIZED (SELECT doc_id, min(anc) AS comp_id FROM reach GROUP BY doc_id), " +
      "qb AS (SELECT doc_id, CAST(length(text) AS DOUBLE) AS n_chars, " +
      "CAST(len(string_split(text, ' ')) AS DOUBLE) AS n_tok, " +
      "CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE) AS n_digit, " +
      "CAST(length(regexp_replace(text, '[a-z0-9 ]', '', 'g')) AS DOUBLE) AS n_punct FROM documents), " +
      s"q AS MATERIALIZED (SELECT doc_id, ${graft.core.Dsp.round6Sql(Curation.qualitySql)} AS q FROM qb) " +
      "SELECT c.doc_id, c.comp_id, q.q, " +
      "row_number() OVER (PARTITION BY c.comp_id ORDER BY q.q DESC, c.doc_id) = 1 AS keep " +
      "FROM comp c JOIN q ON q.doc_id = c.doc_id"

  // ---------------------------------------------------------------------

  /** `retrieve_chunks` config — the RAG retrieval loop closed natively:
    * fixed-window chunking ([[TextStats.chunks]] arithmetic), per-CHUNK
    * feature-hash embeddings ([[TextStats.hashEmbedSums]] formulas on
    * the chunk token stream), mean-centered integer vectors
    * ([[hashEmbedDupes]]'s overflow-safe centering), banded hyperplane
    * candidates (equi-join — never all-pairs), exact integer cosine on
    * candidates only, and a per-query rank window (real key). The gate
    * instance is 8 planes / 2×4-bit bands (the SQL-replayable
    * narrow config — see [[hePlanes]] for the widen-with-log(n) rule
    * at corpus scale).
    */
  val rcPlanes = 8
  val rcBands = 2
  val rcTopK = 3
  val rcQueryDocs = 4 // doc_id < 4 chunk 0 are the retrieval queries
  val rcChunkTok = 32
  val rcDim = 64

  /** Per-chunk bucket sign-sums, one row-local kernel over the docs:
    * (doc_id, chunk_id, s), `s` the chunk's [[rcDim]] sums as an int
    * array. Tokens are `slice(split(text, " "), 1, maxTokens)` cut into
    * [[rcChunkTok]]-token windows; a token's bucket is its md5's bytes
    * 0–3 read unsigned, mod [[rcDim]], and its sign is bit 4 of byte 4
    * (+1 when set) — the hex-substring forms [[retrieveChunksSql]]
    * replays, from one digest per token. Every chunk is emitted, also
    * one whose signs all cancel (it still counts toward the centering
    * mean); a null text emits none.
    */
  private[graft] def chunkSums(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .select(col("doc_id"), col("text"))
      .filter(col("text").isNotNull)
      .as[(Long, String)]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.flatMap { case (docId, text) =>
          // Spark's split(text, " ") is Java's split with limit −1:
          // empty tokens, trailing ones included, stay tokens
          val toks = text.split(" ", -1)
          val dl = math.min(toks.length, TextStats.maxTokens)
          Iterator.range(0, (dl + rcChunkTok - 1) / rcChunkTok).map { c =>
            val s = new Array[Int](rcDim)
            var i = c * rcChunkTok
            val end = math.min(dl, i + rcChunkTok)
            while (i < end) {
              val h = md.digest(toks(i).getBytes(java.nio.charset.StandardCharsets.UTF_8))
              val u = ((h(0) & 0xffL) << 24) | ((h(1) & 0xffL) << 16) | ((h(2) & 0xffL) << 8) | (h(3) & 0xffL)
              s((u % rcDim).toInt) += ((h(4) >> 4) & 1) * 2 - 1
              i += 1
            }
            (docId, c.toLong, s)
          }
        }
      }
      .toDF("doc_id", "chunk_id", "s")
  }

  /** The chunk family's vectors, one row per chunk:
    * (doc_id, chunk_id, cv, n2, bvs). [[chunkSums]] is checkpointed
    * once; an Observation on that action returns the chunk count n and
    * the bucket totals t_b, so no separate aggregate job runs. The rest
    * is row-local against literal arrays: cv_b = s_b − floor(t_b/n)
    * (the same double expression the oracle's dense grid evaluates),
    * n2 = Σ cv², and band j's value sets bit k when plane j·width + k
    * has Σ_b cv_b·σ_b > 0 ([[planeMask]] signs). These are the integers
    * the oracle's grid and signature CTEs compute, so scores and bands
    * are bit-identical by construction.
    *
    * Layout: the checkpoint holds one UnsafeRow per chunk, 304 bytes —
    * an 8-byte null bitmap, three 8-byte slots, and the 64-int `s`
    * array (8-byte length, 8-byte element null bitmap, 256 bytes of
    * values). `cv` has the same 272-byte array layout; `bvs` is one
    * long per band. Nothing is keyed on bucket: no (chunk, bucket)
    * aggregate, no bucket join, no grid.
    */
  private def chunkVectors(docs: DataFrame, nPlanes: Int, nBands: Int): DataFrame = {
    require(nPlanes % nBands == 0, s"nBands $nBands must divide plane count $nPlanes")
    val width = nPlanes / nBands
    val (sums, obs) = Rounds.checkpoint(
      chunkSums(docs),
      (0 until rcDim).map(b => sum(element_at(col("s"), b + 1).cast("long")).as(s"t$b")): _*
    )
    val n = obs("rows").toDouble
    val m = Array.tabulate(rcDim)(b => math.floor(obs(s"t$b").toDouble / n).toLong)
    val masks = Array.tabulate(nPlanes)(planeMask(_, rcDim))
    val spark = docs.sparkSession
    import spark.implicits._
    sums
      .as[(Long, Long, Array[Int])]
      .map { case (docId, chunkId, s) =>
        val cv = Array.tabulate(rcDim)(b => (s(b) - m(b)).toInt)
        val n2 = cv.foldLeft(0L)((a, x) => a + x.toLong * x)
        val bvs = Array.tabulate(nBands) { j =>
          (0 until width).foldLeft(0L) { (bv, k) =>
            val mask = masks(j * width + k)
            val d = (0 until rcDim).foldLeft(0L)((a, b) => if (((mask >> b) & 1L) == 1L) a + cv(b) else a - cv(b))
            if (d > 0) bv | (1L << k) else bv
          }
        }
        (docId, chunkId, cv, n2, bvs)
      }
      .toDF("doc_id", "chunk_id", "cv", "n2", "bvs")
  }

  /** Every (query chunk, chunk of another doc) pair sharing a band value,
    * each pair once. `q` carries the query chunks with their band values
    * as `qbvs` and `qdoc`; the match is a broadcast equi-join on
    * (band, value) over the posexploded bands of both sides, and a pair
    * sharing several bands is kept only at its lowest shared band —
    * the oracle's DISTINCT without a shuffle.
    */
  private def bandMatches(vecs: DataFrame, q: DataFrame, nBands: Int): DataFrame = {
    val firstShared = (0 until nBands)
      .map(j => lit(j) >= col("bi") || element_at(col("qbvs"), j + 1) =!= element_at(col("bvs"), j + 1))
      .reduce(_ && _)
    vecs
      .select(col("*"), posexplode(col("bvs")).as(Seq("bi", "bv")))
      .join(broadcast(q.select(col("*"), posexplode(col("qbvs")).as(Seq("bi", "bv")))), Seq("bi", "bv"))
      .filter(col("doc_id") =!= col("qdoc") && firstShared)
  }

  /** round6 cosine of two centered chunk vectors: the exact integer dot
    * product over the norms, the oracle's `num / sqrt(na2 · nb2)`.
    */
  private def chunkCos(a: Column, b: Column, na2: Column, nb2: Column): Column = {
    val num = aggregate(zip_with(a, b, (x, y) => x.cast("long") * y.cast("long")), lit(0L), _ + _)
    graft.core.Dsp.round6(num.cast("double") / sqrt(na2.cast("double") * nb2.cast("double")))
  }

  /** Top-k chunk retrieval for each query doc's first chunk: the
    * text→chunk→embed→candidates→rank composition as ONE query. Scale
    * shape: [[chunkVectors]] is one row-local kernel and one checkpoint;
    * the candidates are a broadcast banded join (background
    * ~nBands·n·2^-width per query) scored row-locally from the vectors
    * they carry; the final rank window partitions by the real query key.
    */
  def retrieveChunks(
      docs: DataFrame,
      nPlanes: Int = rcPlanes,
      nBands: Int = rcBands
  ): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // scan fan-out (guide §2.5): the per-token md5 kernel otherwise
    // inherits the single-file scan's one partition (measured r17:
    // 5.0→3.1 s at sf0.1; retrieve_maxsim measured WORSE with the same
    // fan — its collision-capped query side dominates — so the fan
    // lives here, not in the shared chunkVectors)
    val vecs = chunkVectors(Tables.fan(docs, "doc_id"), nPlanes, nBands)
    val q = vecs
      .filter(col("doc_id") < rcQueryDocs && col("chunk_id") === 0)
      .select(col("doc_id").as("qdoc"), col("cv").as("qcv"), col("n2").as("na2"), col("bvs").as("qbvs"))
    val w = Window
      .partitionBy(col("qdoc"))
      .orderBy(col("cos").desc, col("doc_b").asc, col("chunk_b").asc)
    bandMatches(vecs, q, nBands)
      .select(
        col("qdoc"),
        col("doc_id").as("doc_b"),
        col("chunk_id").as("chunk_b"),
        chunkCos(col("qcv"), col("cv"), col("na2"), col("n2")).as("cos")
      )
      .select(col("qdoc"), col("doc_b"), col("chunk_b"), col("cos"), row_number().over(w).as("rank"))
      .filter(col("rank") <= rcTopK)
  }

  /** The shared oracle prefix (everything through `bands`) for the
    * chunk-retrieval family — ends WITHOUT a trailing comma.
    */
  private def rcPrefixSql: String = {
    val width = rcPlanes / rcBands
    val ds = (0 until rcPlanes)
      .map(i => s"CAST(sum(cv * (${pSignSqlFromMask(i, rcDim)})) AS BIGINT) AS d$i")
      .mkString(", ")
    val bandSelects = (0 until rcBands)
      .map { j =>
        val bv = (0 until width)
          .map(k => s"(CASE WHEN d${j * width + k} > 0 THEN ${1L << k} ELSE 0 END)")
          .mkString(" + ")
        s"SELECT doc_id, chunk_id, $j AS bi, CAST($bv AS BIGINT) AS bv FROM sig"
      }
      .mkString(" UNION ALL ")
    s"WITH t AS (SELECT doc_id, list_slice(string_split(text, ' '), 1, ${TextStats.maxTokens}) AS toks FROM documents " +
      "WHERE text IS NOT NULL), " +
      s"d AS (SELECT doc_id, toks, least(len(toks), ${TextStats.maxTokens}) AS dl FROM t), " +
      s"ch AS MATERIALIZED (SELECT doc_id, CAST(g.c AS BIGINT) AS chunk_id, " +
      s"list_slice(toks, g.c * $rcChunkTok + 1, g.c * $rcChunkTok + $rcChunkTok) AS ctoks " +
      s"FROM d, generate_series(0, ${TextStats.maxTokens}) g(c) WHERE g.c <= (dl - 1) // $rcChunkTok), " +
      s"ctok AS (SELECT doc_id, chunk_id, list_extract(ctoks, g.i) AS tok FROM ch, " +
      s"generate_series(1, $rcChunkTok) g(i) WHERE g.i <= len(ctoks)), " +
      s"h AS (SELECT doc_id, chunk_id, CAST(concat('0x', substr(md5(tok), 1, 8)) AS BIGINT) % $rcDim AS bucket, " +
      "CAST(concat('0x', substr(md5(tok), 9, 1)) AS BIGINT) % 2 * 2 - 1 AS sign FROM ctok), " +
      "sums AS MATERIALIZED (SELECT doc_id, chunk_id, bucket, CAST(sum(sign) AS BIGINT) AS s FROM h " +
      "GROUP BY doc_id, chunk_id, bucket HAVING sum(sign) <> 0), " +
      "tot AS MATERIALIZED (SELECT bucket, CAST(sum(s) AS BIGINT) AS t FROM sums GROUP BY bucket), " +
      "nn AS MATERIALIZED (SELECT count(*) AS n FROM ch), " +
      s"grid AS (SELECT ch.doc_id, ch.chunk_id, g.b AS bucket FROM ch, generate_series(0, ${rcDim - 1}) g(b)), " +
      "dense AS MATERIALIZED (SELECT grid.doc_id, grid.chunk_id, grid.bucket, " +
      "coalesce(s.s, 0) - CAST(floor(CAST(coalesce(tt.t, 0) AS DOUBLE) / (SELECT n FROM nn)) AS BIGINT) AS cv FROM grid " +
      "LEFT JOIN sums s ON s.doc_id = grid.doc_id AND s.chunk_id = grid.chunk_id AND s.bucket = grid.bucket " +
      "LEFT JOIN tot tt ON tt.bucket = grid.bucket), " +
      s"sig AS MATERIALIZED (SELECT doc_id, chunk_id, CAST(sum(cv * cv) AS BIGINT) AS n2, $ds " +
      "FROM dense GROUP BY doc_id, chunk_id), " +
      s"bands AS MATERIALIZED ($bandSelects)"
  }

  def retrieveChunksSql: String = {
    s"$rcPrefixSql, " +
      s"qb AS (SELECT doc_id AS qdoc, bi, bv FROM bands WHERE doc_id < $rcQueryDocs AND chunk_id = 0), " +
      "cand AS (SELECT DISTINCT q.qdoc, b.doc_id AS doc_b, b.chunk_id AS chunk_b FROM qb q " +
      "JOIN bands b ON b.bi = q.bi AND b.bv = q.bv AND b.doc_id <> q.qdoc), " +
      "num AS (SELECT c.qdoc, c.doc_b, c.chunk_b, CAST(sum(x.cv * y.cv) AS BIGINT) AS num FROM cand c " +
      s"JOIN dense x ON x.doc_id = c.qdoc AND x.chunk_id = 0 " +
      "JOIN dense y ON y.doc_id = c.doc_b AND y.chunk_id = c.chunk_b AND y.bucket = x.bucket " +
      "GROUP BY c.qdoc, c.doc_b, c.chunk_b), " +
      "scored AS (SELECT n.qdoc, n.doc_b, n.chunk_b, " +
      graft.core.Dsp.round6Sql(
        "CAST(n.num AS DOUBLE) / sqrt(CAST(sa.n2 AS DOUBLE) * CAST(sb.n2 AS DOUBLE))"
      ) + " AS cos " +
      "FROM num n JOIN sig sa ON sa.doc_id = n.qdoc AND sa.chunk_id = 0 " +
      "JOIN sig sb ON sb.doc_id = n.doc_b AND sb.chunk_id = n.chunk_b), " +
      "ranked AS (SELECT qdoc, doc_b, chunk_b, cos, " +
      "row_number() OVER (PARTITION BY qdoc ORDER BY cos DESC, doc_b, chunk_b) AS rank FROM scored) " +
      s"SELECT qdoc, doc_b, chunk_b, cos, rank FROM ranked WHERE rank <= $rcTopK"
  }

  val msCand = 32 // candidate docs per query after the collision-count cap
  val msTopK = 3

  /** Late-interaction retrieval (ColBERT MaxSim — Khattab & Zaharia,
    * SIGIR 2020): score(q, d) = Σ_{query chunks} max_{doc chunks} cos —
    * every query chunk finds its best-matching passage, so a document
    * matching DIFFERENT query aspects in different places outranks one
    * matching a single aspect once. Served as published systems serve
    * it, in two stages: (1) candidate DOCUMENTS from banded chunk
    * collisions, capped at `msCand` per query by collision count
    * (deterministic tie on doc id) — the candidate bound is
    * independent of corpus size, the property that makes late
    * interaction servable; (2) the FULL query-chunk × doc-chunk cosine
    * grid inside each candidate pair (bounded by chunks-per-doc²,
    * never corpus-sized). Parity: each chunk cosine is round6'd, the
    * per-query-chunk max is monotone in the rounded value, and the
    * final sum runs in exact integer MICROS (the band_power_tc
    * float-sum rule — a float Σ of rounded values would flip 6th
    * decimals cross-engine).
    */
  def retrieveMaxsim(
      docs: DataFrame,
      nPlanes: Int = rcPlanes,
      nBands: Int = rcBands
  ): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val vecs = chunkVectors(docs, nPlanes, nBands)
    val q = vecs
      .filter(col("doc_id") < rcQueryDocs)
      .select(
        col("doc_id").as("qdoc"),
        col("chunk_id").as("chunk_q"),
        col("cv").as("qcv"),
        col("n2").as("na2"),
        col("bvs").as("qbvs")
      )
    val wc = Window.partitionBy(col("qdoc")).orderBy(col("ncoll").desc, col("doc_b").asc)
    val cand = bandMatches(vecs, q, nBands)
      .groupBy(col("qdoc"), col("doc_id").as("doc_b"))
      .agg(count(lit(1)).as("ncoll"))
      .select(col("qdoc"), col("doc_b"), row_number().over(wc).as("cr"))
      .filter(col("cr") <= msCand)
      .select(col("qdoc"), col("doc_b"))
    // every query chunk against every chunk of its capped candidate
    // docs: at most msCand docs per query, so this side broadcasts at
    // any corpus size and the corpus vectors stream past it
    val pairs = cand.join(q.select(col("qdoc"), col("chunk_q"), col("qcv"), col("na2")), Seq("qdoc"))
    val cos = vecs
      .select(col("doc_id").as("doc_b"), col("cv"), col("n2"))
      .join(broadcast(pairs), Seq("doc_b"))
      .select(
        col("qdoc"),
        col("chunk_q"),
        col("doc_b"),
        chunkCos(col("qcv"), col("cv"), col("na2"), col("n2")).as("cos")
      )
    val best = cos
      .groupBy(col("qdoc"), col("doc_b"), col("chunk_q"))
      .agg(expr("CAST(floor(max(cos) * 1000000 + 0.5) AS BIGINT)").as("m"))
    val w = Window.partitionBy(col("qdoc")).orderBy(col("maxsim_micros").desc, col("doc_b").asc)
    best
      .groupBy(col("qdoc"), col("doc_b"))
      .agg(sum(col("m")).as("maxsim_micros"), count(lit(1)).as("n_qchunks"))
      .select(
        col("qdoc"),
        col("doc_b"),
        col("n_qchunks"),
        col("maxsim_micros"),
        row_number().over(w).as("rank")
      )
      .filter(col("rank") <= msTopK)
  }

  def retrieveMaxsimSql: String =
    s"$rcPrefixSql, " +
      s"qb AS (SELECT doc_id AS qdoc, chunk_id AS chunk_q, bi, bv FROM bands WHERE doc_id < $rcQueryDocs), " +
      "coll AS (SELECT DISTINCT q.qdoc, q.chunk_q, b.doc_id AS doc_b, b.chunk_id AS chunk_b " +
      "FROM qb q JOIN bands b ON b.bi = q.bi AND b.bv = q.bv AND b.doc_id <> q.qdoc), " +
      "candn AS (SELECT qdoc, doc_b, count(*) AS ncoll FROM coll GROUP BY 1, 2), " +
      s"cand AS (SELECT qdoc, doc_b FROM (SELECT qdoc, doc_b, " +
      "row_number() OVER (PARTITION BY qdoc ORDER BY ncoll DESC, doc_b) AS cr FROM candn) " +
      s"WHERE cr <= $msCand), " +
      "mnum AS (SELECT c.qdoc, x.chunk_id AS chunk_q, c.doc_b, y.chunk_id AS chunk_b, " +
      "CAST(sum(x.cv * y.cv) AS BIGINT) AS num FROM cand c " +
      s"JOIN dense x ON x.doc_id = c.qdoc AND x.doc_id < $rcQueryDocs " +
      "JOIN dense y ON y.doc_id = c.doc_b AND y.bucket = x.bucket " +
      "GROUP BY 1, 2, 3, 4), " +
      "mcos AS (SELECT n.qdoc, n.chunk_q, n.doc_b, " +
      graft.core.Dsp.round6Sql(
        "CAST(n.num AS DOUBLE) / sqrt(CAST(sa.n2 AS DOUBLE) * CAST(sb.n2 AS DOUBLE))"
      ) + " AS cos " +
      "FROM mnum n JOIN sig sa ON sa.doc_id = n.qdoc AND sa.chunk_id = n.chunk_q " +
      "JOIN sig sb ON sb.doc_id = n.doc_b AND sb.chunk_id = n.chunk_b), " +
      "mbest AS (SELECT qdoc, doc_b, chunk_q, " +
      "CAST(floor(max(cos) * 1000000 + 0.5) AS BIGINT) AS m FROM mcos GROUP BY 1, 2, 3), " +
      "ms AS (SELECT qdoc, doc_b, CAST(count(*) AS BIGINT) AS n_qchunks, " +
      "CAST(sum(m) AS BIGINT) AS maxsim_micros FROM mbest GROUP BY 1, 2), " +
      "mranked AS (SELECT qdoc, doc_b, n_qchunks, maxsim_micros, " +
      "row_number() OVER (PARTITION BY qdoc ORDER BY maxsim_micros DESC, doc_b) AS rank FROM ms) " +
      s"SELECT qdoc, doc_b, n_qchunks, maxsim_micros, rank FROM mranked WHERE rank <= $msTopK"

  /** Chunk-level exact dedup with span accounting — the production
    * RAG/pretraining dedup granularity: content-defined chunks
    * ([[TextStats.chunksCdc]] — shift-robust boundaries, so a shared
    * passage chunk-hashes identically wherever it sits in a document),
    * ONE chunk_md5-keyed ranking that keeps the (doc_id, chunk_id)-min
    * occurrence of every distinct chunk, and a per-doc rollup of how
    * many chunks/tokens survive vs fall as duplicate spans. Scale
    * shape: chunking reuses the tokens window's doc_id partitioning,
    * the dedup is ONE equi-keyed window on the content hash (never
    * all-pairs — the chunk-hash twin of dedup_exact), the rollup is a
    * map-side-combined aggregation.
    */
  def dedupChunks(docs: DataFrame): DataFrame = {
    val wr = org.apache.spark.sql.expressions.Window
      .partitionBy(col("chunk_md5"))
      .orderBy(col("doc_id"), col("chunk_id"))
    TextStats
      .chunksCdc(docs)
      .select(col("doc_id"), col("chunk_id"), col("n_tok"), row_number().over(wr).as("rn"))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_chunks"),
        sum(col("n_tok")).as("n_tok"),
        sum(when(col("rn") > 1, 1L).otherwise(0L)).as("dup_chunks"),
        sum(when(col("rn") > 1, col("n_tok")).otherwise(0L)).as("dup_tok"),
        sum(when(col("rn") === 1, col("n_tok")).otherwise(0L)).as("kept_tok")
      )
  }

  def dedupChunksSql: String =
    s"WITH ch AS MATERIALIZED (${TextStats.chunksCdcSql}), " +
      "r AS (SELECT doc_id, chunk_id, n_tok, " +
      "row_number() OVER (PARTITION BY chunk_md5 ORDER BY doc_id, chunk_id) AS rn FROM ch) " +
      "SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks, CAST(sum(n_tok) AS BIGINT) AS n_tok, " +
      "CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS dup_chunks, " +
      "CAST(sum(CASE WHEN rn > 1 THEN n_tok ELSE 0 END) AS BIGINT) AS dup_tok, " +
      "CAST(sum(CASE WHEN rn = 1 THEN n_tok ELSE 0 END) AS BIGINT) AS kept_tok " +
      "FROM r GROUP BY doc_id"

  /** Corpus-wide LINE-level exact dedup — the C4 §2.2 / RefinedWeb §3.2
    * boilerplate-line stage ("keep one occurrence of any line repeated
    * across the corpus"): the granularity BETWEEN whole-doc
    * [[Dedup]] `dedup_exact` and 5-gram [[spanRemoval]] — navigation
    * chrome, cookie banners, subscribe prompts and syndicated passages
    * repeat line-for-line across thousands of pages while the pages'
    * bodies differ, so doc-level dedup misses them and n-gram spans
    * over-fragment them.
    *
    * The synthetic corpus has no line structure, so the gate PLANTS it
    * (urlPlant/text_pii precedent): each doc's tokens group into
    * 8-token body lines; doc_id % 4 = 1 docs get a subscribe
    * boilerplate line prepended (idx −1), doc_id % 6 = 2 docs an
    * appended copyright line (idx 10⁶), and doc_id % 97 = 5 docs have
    * their body REPLACED by a 2-line syndicated passage (full-copy
    * cluster — every line of the later copies drops).
    *
    * Keeper rule: the corpus-FIRST occurrence — (min doc_id, then min
    * idx within that doc) per line hash — survives; every other
    * occurrence (including within-doc repeats) is dropped. Output per
    * doc: (doc_id, n_lines, n_kept, md5_clean) where md5_clean hashes
    * the kept lines re-joined in order.
    *
    * Scale shape: the line frame is a row-local projection + explode;
    * the keeper needs TWO windows over the SAME md5(line) partition
    * key (min doc, then conditional min idx — the second reuses the
    * first's hash partitioning, one shuffle) and the per-doc rollup is
    * one doc_id aggregation. Equi-keyed throughout — at 100 TB line
    * hashes partition like any dedup key; nothing is pairwise.
    */
  val dlWin = 8
  val dlBoiler1 = "subscribe to our newsletter for daily updates and exclusive offers"
  val dlBoiler2 = "copyright twenty twenty four all rights reserved worldwide"
  val dlShared1 = "the identical mirrored passage every syndicated copy carries verbatim"
  val dlShared2 = "a second shared line completing the duplicated syndicated passage"

  private def lineFrame(docs: DataFrame): DataFrame = {
    // ONE corpus scan: the planted line array (prepend boiler | body-
    // or-replacement | append boiler) assembles row-locally and
    // explodes once — the oracle mirrors it as a UNION of per-plant
    // selects (4 scans are free for DuckDB at gate scale; a 100 TB
    // Spark plan must not pay them)
    val toks = slice(filter(split(col("text"), " "), t => t =!= ""), 1, TextStats.maxTokens)
    val emptySt = s"CAST(array() AS array<struct<idx:bigint,line:string>>)"
    val linesExpr =
      s"concat(" +
        s"CASE WHEN doc_id % 4 = 1 THEN array(named_struct('idx', CAST(-1 AS BIGINT), 'line', '$dlBoiler1')) ELSE $emptySt END, " +
        s"CASE WHEN doc_id % 97 = 5 THEN array(named_struct('idx', CAST(0 AS BIGINT), 'line', '$dlShared1'), " +
        s"named_struct('idx', CAST(1 AS BIGINT), 'line', '$dlShared2')) " +
        s"ELSE transform(sequence(0, CAST((size(toks) - 1) div $dlWin AS INT)), " +
        s"i -> named_struct('idx', CAST(i AS BIGINT), 'line', array_join(slice(toks, i * $dlWin + 1, $dlWin), ' '))) END, " +
        s"CASE WHEN doc_id % 6 = 2 THEN array(named_struct('idx', CAST(1000000 AS BIGINT), 'line', '$dlBoiler2')) ELSE $emptySt END)"
    docs
      .select(col("doc_id"), toks.as("toks"))
      .select(col("doc_id"), explode(expr(linesExpr)).as("s"))
      .select(col("doc_id"), col("s.idx").as("idx"), col("s.line").as("line"))
      .filter(col("line") =!= "")
  }

  def dedupLines(docs: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("h"))
    lineFrame(docs)
      .withColumn("h", md5(col("line")))
      .withColumn("min_doc", min(col("doc_id")).over(w))
      .withColumn("min_idx", min(when(col("doc_id") === col("min_doc"), col("idx"))).over(w))
      .withColumn("keep", col("doc_id") === col("min_doc") && col("idx") === col("min_idx"))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_lines"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
        expr(
          "md5(array_join(transform(array_sort(collect_list(CASE WHEN keep THEN struct(idx, line) END)), " +
            "s -> s.line), chr(10)))"
        ).as("md5_clean")
      )
  }

  def dedupLinesSql: String =
    "WITH t AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '')[1:" +
      s"${TextStats.maxTokens}] AS toks FROM documents), " +
      "body AS (SELECT doc_id, CAST(g.i AS BIGINT) AS idx, " +
      s"array_to_string(toks[g.i * $dlWin + 1 : g.i * $dlWin + $dlWin], ' ') AS line " +
      s"FROM t, generate_series(0, ${TextStats.maxTokens / dlWin}) g(i) " +
      s"WHERE doc_id % 97 <> 5 AND g.i <= greatest((len(toks) - 1) // $dlWin, 0)), " +
      "rep AS (SELECT doc_id, CAST(u.idx AS BIGINT) AS idx, " +
      s"CASE u.idx WHEN 0 THEN '$dlShared1' ELSE '$dlShared2' END AS line " +
      "FROM documents, unnest(generate_series(0, 1)) u(idx) WHERE doc_id % 97 = 5), " +
      s"pre AS (SELECT doc_id, CAST(-1 AS BIGINT) AS idx, '$dlBoiler1' AS line FROM documents WHERE doc_id % 4 = 1), " +
      s"app AS (SELECT doc_id, CAST(1000000 AS BIGINT) AS idx, '$dlBoiler2' AS line FROM documents WHERE doc_id % 6 = 2), " +
      "lines AS (SELECT doc_id, idx, line, md5(line) AS h FROM " +
      "(SELECT * FROM body UNION ALL SELECT * FROM rep UNION ALL SELECT * FROM pre UNION ALL SELECT * FROM app) " +
      "WHERE line <> ''), " +
      "s1 AS (SELECT doc_id, idx, line, h, min(doc_id) OVER (PARTITION BY h) AS min_doc FROM lines), " +
      "s2 AS (SELECT doc_id, idx, line, " +
      "doc_id = min_doc AND idx = min(CASE WHEN doc_id = min_doc THEN idx END) OVER (PARTITION BY h) AS keep " +
      "FROM s1) " +
      "SELECT doc_id, count(*) AS n_lines, " +
      "CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept, " +
      "md5(coalesce(string_agg(CASE WHEN keep THEN line END, chr(10) ORDER BY idx), '')) AS md5_clean " +
      "FROM s2 GROUP BY doc_id"

  /** The DEDUP REPORT — one per-source table answering "how duplicated
    * is each source, at every granularity" (the number a data-mixture
    * review reads before weighting sources): exact whole-doc dups,
    * docs carrying duplicate CDC chunks + the token share those chunks
    * represent, docs losing lines to corpus-wide line dedup, and docs
    * sharing 5-gram spans. Composes the existing family passes (each
    * granularity costs its own corpus pass by nature — the report is
    * the run-once rollup of all four) and joins per-doc verdicts on
    * doc_id before ONE source aggregation. chunk_dup_frac follows the
    * integer-sums-then-one-divide discipline (exact BIGINT sums,
    * single round6'd division).
    */
  def dedupReport(docs: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("h"))
    val keep = docs
      .select(col("doc_id"), col("source"), md5(col("text")).as("h"))
      .withColumn("is_keeper", col("doc_id") === min(col("doc_id")).over(w))
      .select(col("doc_id"), col("source"), col("is_keeper"))
    val ch = dedupChunks(docs).select(col("doc_id"), col("n_tok"), col("dup_chunks"), col("dup_tok"))
    val ln = dedupLines(docs).select(col("doc_id"), col("n_lines"), col("n_kept"))
    val sp = dupSpans(docs).select(col("doc_id"), col("n_dup_spans"))
    keep
      .join(ch, Seq("doc_id"))
      .join(ln, Seq("doc_id"))
      .join(sp, Seq("doc_id"), "left")
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(!col("is_keeper"), 1L).otherwise(0L)).as("n_exact_dup"),
        sum(when(col("dup_chunks") > 0L, 1L).otherwise(0L)).as("n_chunk_dup_docs"),
        graft.core.Dsp
          .round6(sum(col("dup_tok")).cast("double") / sum(col("n_tok")).cast("double"))
          .as("chunk_dup_frac"),
        sum(when(col("n_kept") < col("n_lines"), 1L).otherwise(0L)).as("n_line_dup_docs"),
        sum(when(coalesce(col("n_dup_spans"), lit(0L)) > 0L, 1L).otherwise(0L)).as("n_span_docs")
      )
  }

  def dedupReportSql: String =
    "WITH ex AS (SELECT doc_id, source, md5(text) AS h FROM documents), " +
      "keepx AS (SELECT doc_id, source, doc_id = min(doc_id) OVER (PARTITION BY h) AS is_keeper FROM ex), " +
      s"chq AS (SELECT doc_id, n_tok, dup_chunks, dup_tok FROM ($dedupChunksSql) iq1), " +
      s"lnq AS (SELECT doc_id, n_lines, n_kept FROM ($dedupLinesSql) iq2), " +
      s"spq AS (SELECT doc_id, n_dup_spans FROM (${dupSpansSql()}) iq3) " +
      "SELECT k.source, count(*) AS n_docs, " +
      "CAST(sum(CASE WHEN NOT is_keeper THEN 1 ELSE 0 END) AS BIGINT) AS n_exact_dup, " +
      "CAST(sum(CASE WHEN dup_chunks > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_chunk_dup_docs, " +
      s"${graft.core.Dsp.round6Sql("CAST(sum(dup_tok) AS DOUBLE) / CAST(sum(chq.n_tok) AS DOUBLE)")} AS chunk_dup_frac, " +
      "CAST(sum(CASE WHEN n_kept < n_lines THEN 1 ELSE 0 END) AS BIGINT) AS n_line_dup_docs, " +
      "CAST(sum(CASE WHEN coalesce(n_dup_spans, 0) > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_span_docs " +
      "FROM keepx k JOIN chq USING (doc_id) JOIN lnq USING (doc_id) LEFT JOIN spq USING (doc_id) " +
      "GROUP BY k.source"

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "corpus_dedup_report" -> { (s, dir) => dedupReport(Tables.documents(s, dir)) },
    "dedup_cluster_sizes" -> { (s, dir) => clusterSizes(Tables.documents(s, dir)) },
    "dedup_weights" -> { (s, dir) => softDedupWeights(Tables.documents(s, dir)) },
    "dedup_threshold_curve" -> { (s, dir) => thresholdCurve(Tables.documents(s, dir)) },
    "dedup_lines" -> { (s, dir) => dedupLines(Tables.documents(s, dir)) },
    "dedup_exact" -> { (s, dir) =>
      Tables
        .documents(s, dir)
        .groupBy(md5(col("text")).as("h"))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_dups"))
    },
    "dedup_stream_minhash" -> { (s, dir) => minhashDupStreaming(Tables.documents(s, dir)) },
    "dedup_minhash" -> { (s, dir) => minhashCandidates(Tables.documents(s, dir)) },
    "dedup_edit" -> { (s, dir) => editDupes(Tables.documents(s, dir)) },
    "dedup_jaccard" -> { (s, dir) => jaccard(Tables.documents(s, dir)) },
    "dedup_containment" -> { (s, dir) => containment(Tables.documents(s, dir)) },
    "dedup_simhash" -> { (s, dir) => simhash(Tables.documents(s, dir)) },
    "dedup_simhash_pairs" -> { (s, dir) => simhashPairs(Tables.documents(s, dir)) },
    "dedup_components" -> { (s, dir) =>
      val docs = Tables.documents(s, dir)
      components(docs.select(col("doc_id")), simhashPairs(docs).select(col("doc_a"), col("doc_b")))
    },
    "dedup_spans" -> { (s, dir) => dupSpans(Tables.documents(s, dir)) },
    "dedup_runs" -> { (s, dir) => dedupRuns(Tables.documents(s, dir)) },
    "dedup_span_removal" -> { (s, dir) => spanRemoval(Tables.documents(s, dir)) },
    "dedup_groups" -> { (s, dir) =>
      // the canonical MinHash dedup pipeline end to end in ONE query:
      // banded LSH candidates → shingle-Jaccard verification ≥ 0.7 →
      // connected components → every doc labeled with its group min
      // (a curation run then keeps one doc per comp_id)
      val docs = Tables.documents(s, dir)
      components(
        docs.select(col("doc_id")),
        jaccard(docs).filter(col("jaccard") >= 0.7).select(col("doc_a"), col("doc_b"))
      )
    },
    "dedup_stream" -> { (s, dir) => dedupStreaming(Tables.documents(s, dir)) },
    "dedup_incremental" -> { (s, dir) => incrementalDedup(Tables.documents(s, dir)) },
    "dedup_hash_embed" -> { (s, dir) => hashEmbedDupes(Tables.documents(s, dir)) },
    "dedup_chunks" -> { (s, dir) => dedupChunks(Tables.documents(s, dir)) },
    "dedup_keep_best" -> { (s, dir) => keepBest(Tables.documents(s, dir)) },
    "retrieve_chunks" -> { (s, dir) => retrieveChunks(Tables.documents(s, dir)) },
    "retrieve_maxsim" -> { (s, dir) => retrieveMaxsim(Tables.documents(s, dir)) }
  )

  def oracleSql: Map[String, String] = Map(
    "corpus_dedup_report" -> dedupReportSql,
    "dedup_cluster_sizes" -> clusterSizesSql,
    "dedup_weights" -> softDedupWeightsSql,
    "dedup_threshold_curve" -> thresholdCurveSql,
    "dedup_lines" -> dedupLinesSql,
    "dedup_exact" ->
      "SELECT md5(text) AS h, min(doc_id) AS keep_id, count(*) AS n_dups FROM documents GROUP BY md5(text)",
    "dedup_minhash" -> minhashCandidatesSql,
    "dedup_edit" -> editDupesSql(),
    // the streaming LSH's batch twin IS the batch candidate set
    "dedup_stream_minhash" -> minhashCandidatesSql,
    "dedup_jaccard" -> jaccardSql,
    "dedup_containment" -> containmentSql,
    "dedup_simhash" -> simhashSql,
    "dedup_simhash_pairs" -> simhashPairsSql,
    "dedup_components" -> componentsSql,
    "dedup_spans" -> dupSpansSql(),
    "dedup_runs" -> dedupRunsSql(),
    "dedup_span_removal" -> spanRemovalSql(),
    "dedup_groups" ->
      (s"WITH RECURSIVE $jaccardCtes, " +
        "vpairs AS MATERIALIZED (SELECT doc_a, doc_b FROM jac WHERE jaccard >= 0.7e0), " +
        "edges AS MATERIALIZED (SELECT doc_a AS src, doc_b AS dst FROM vpairs " +
        "UNION ALL SELECT doc_b, doc_a FROM vpairs), " +
        "reach AS (SELECT doc_id, doc_id AS anc FROM documents " +
        "UNION SELECT r.doc_id AS doc_id, e.dst AS anc FROM reach r JOIN edges e ON e.src = r.anc) " +
        "SELECT doc_id, min(anc) AS comp_id FROM reach GROUP BY doc_id"),
    "dedup_stream" ->
      ("SELECT doc_id, md5(text) AS h, " +
        "doc_id > min(doc_id) OVER (PARTITION BY md5(text)) AS is_dup FROM documents"),
    "dedup_incremental" -> incrementalDedupSql(),
    "dedup_hash_embed" -> hashEmbedDupesSql(),
    "dedup_chunks" -> dedupChunksSql,
    "dedup_keep_best" -> keepBestSql,
    "retrieve_chunks" -> retrieveChunksSql,
    "retrieve_maxsim" -> retrieveMaxsimSql
  )
}
