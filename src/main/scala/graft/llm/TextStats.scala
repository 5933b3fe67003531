package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables

/** Text-analysis operators for training-data pipelines over `documents`:
  * token counting, language-ID heuristic, quality scoring, document
  * fingerprinting. All row-local or one-aggregation plans — at corpus
  * scale these are pure map-side work plus one shuffle at most.
  */
object TextStats {

  /** Tokenization shared by the text/dedup operators: whitespace split,
    * positional. Both engines index the split array 1-based via an
    * exploded index sequence (DuckDB's generate_series cannot take
    * lateral args, so the SQL twin cross-joins a fixed range and
    * filters).
    */
  val maxTokens = 1024

  def tokens(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .select(
        col("doc_id"),
        col("toks"),
        explode(sequence(lit(1), least(size(col("toks")), lit(maxTokens)))).as("i")
      )
      .select(col("doc_id"), col("i"), element_at(col("toks"), col("i")).as("tok"))

  val tokensSql: String =
    s"toks AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents), " +
      s"tokens AS (SELECT doc_id, g.i AS i, list_extract(toks, g.i) AS tok " +
      s"FROM toks, generate_series(1, $maxTokens) g(i) WHERE g.i <= len(toks))"

  /** Word w-shingles (w=3), keeping position. Docs with < 3 tokens are
    * filtered BEFORE the index sequence: Spark's sequence(1, 0) is the
    * DESCENDING [1, 0] (step defaults to -1), so the old greatest(…, 0)
    * clamp produced an element_at(toks, 0) ANSI crash on tiny docs
    * instead of zero rows.
    */
  def shingles(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .filter(size(col("toks")) >= 3)
      .select(
        col("doc_id"),
        col("toks"),
        explode(sequence(lit(1), least(size(col("toks")) - 2, lit(maxTokens)))).as("i")
      )
      .select(
        col("doc_id"),
        col("i"),
        concat_ws(
          " ",
          element_at(col("toks"), col("i")),
          element_at(col("toks"), col("i") + 1),
          element_at(col("toks"), col("i") + 2)
        ).as("sh")
      )

  val shinglesSql: String =
    s"toks AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents), " +
      s"shingles AS (SELECT doc_id, g.i AS i, " +
      "list_extract(toks, g.i) || ' ' || list_extract(toks, g.i + 1) || ' ' || list_extract(toks, g.i + 2) AS sh " +
      s"FROM toks, generate_series(1, $maxTokens) g(i) WHERE g.i <= len(toks) - 2)"

  /** Word 2-grams with position — the repetition-screen unit (kept
    * separate from the w=3 [[shingles]] so the green dedup oracles'
    * SQL strings stay byte-identical).
    */
  def shingles2(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      // < 2 tokens → no 2-grams; filter BEFORE the sequence (see
      // shingles: sequence(1, 0) descends, it is not empty)
      .filter(size(col("toks")) >= 2)
      .select(
        col("doc_id"),
        col("toks"),
        explode(sequence(lit(1), least(size(col("toks")) - 1, lit(maxTokens)))).as("i")
      )
      .select(
        col("doc_id"),
        concat_ws(" ", element_at(col("toks"), col("i")), element_at(col("toks"), col("i") + 1)).as("sh")
      )

  val shingles2Sql: String =
    s"toks AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents), " +
      s"shingles2 AS (SELECT doc_id, " +
      "list_extract(toks, g.i) || ' ' || list_extract(toks, g.i + 1) AS sh " +
      s"FROM toks, generate_series(1, $maxTokens) g(i) WHERE g.i <= len(toks) - 1)"

  private val stopwords =
    Seq("the", "a", "an", "and", "of", "to", "in", "is", "it", "for", "on", "with")
  private def stopInSql = stopwords.map(w => s"'$w'").mkString("(", ", ", ")")

  /** RAKE keyword extraction (Rose et al. 2010, "Automatic Keyword
    * Extraction from Individual Documents") — the unsupervised
    * corpus-keyword pass curation reports lean on: candidate phrases
    * are maximal stopword-delimited token runs; each word scores
    * deg(w)/freq(w) where freq counts occurrences and deg sums the
    * length of every phrase containing the occurrence (the
    * co-occurrence-graph degree INCLUDING the self edge — the common
    * implementation convention); a phrase scores the sum of its
    * word scores, and the corpus keeps the global top-k distinct
    * phrases.
    *
    * Scale shape: tokenize + stop-flag are row-local; the island id
    * (running stopword count) is ONE doc-keyed window; phrase length
    * a second window on the same partitioning's prefix
    * (doc_id, isl); word stats ONE vocab-keyed aggregation joined
    * back on the token (never all-pairs); top-k is
    * orderBy(...).limit(k) — TakeOrderedAndProject, no global sort.
    * Cross-engine the score is exact BIGINT micros:
    * (deg·10⁶) div freq on both engines, summed as integers.
    */
  def textRake(docs: DataFrame, topK: Int = 30): DataFrame = {
    val toks = docs
      .select(
        col("doc_id"),
        posexplode(slice(split(col("text"), " "), 1, maxTokens)).as(Seq("pos0", "tok"))
      )
      .select(col("doc_id"), (col("pos0") + 1).as("pos"), col("tok"))
    val wIsl = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id"))
      .orderBy(col("pos"))
    val words = toks
      .withColumn("stop", col("tok").isin(stopwords: _*))
      .withColumn("isl", sum(when(col("stop"), 1L).otherwise(0L)).over(wIsl))
      .filter(!col("stop") && col("tok") =!= "")
    val wPhr =
      org.apache.spark.sql.expressions.Window.partitionBy(col("doc_id"), col("isl"))
    val wl = words.withColumn("plen", count(lit(1)).over(wPhr))
    val ws = wl
      .groupBy(col("tok"))
      .agg(sum(col("plen")).as("deg"), count(lit(1)).as("freq"))
      .withColumn("wscore", expr("(deg * 1000000) div freq"))
    wl.join(ws.select(col("tok"), col("wscore")), Seq("tok"))
      .groupBy(col("doc_id"), col("isl"))
      .agg(
        array_join(
          transform(array_sort(collect_list(struct(col("pos"), col("tok")))), x => x.getField("tok")),
          " "
        ).as("phrase"),
        count(lit(1)).as("n_words"),
        sum(col("wscore")).as("score_micros")
      )
      .groupBy(col("phrase"))
      .agg(
        max(col("n_words")).as("n_words"),
        count(lit(1)).as("n_occur"),
        max(col("score_micros")).as("score_micros")
      )
      .orderBy(col("score_micros").desc, col("phrase").asc)
      .limit(topK)
  }

  val textRakeSql: String =
    s"WITH toks AS (SELECT doc_id, list_slice(string_split(text, ' '), 1, $maxTokens) AS toks FROM documents), " +
      s"t AS (SELECT doc_id, g.i AS pos, list_extract(toks, g.i) AS tok FROM toks, " +
      s"generate_series(1, $maxTokens) g(i) WHERE g.i <= len(toks)), " +
      s"f AS (SELECT doc_id, pos, tok, (tok IN $stopInSql) AS stop FROM t), " +
      "i AS (SELECT *, sum(CASE WHEN stop THEN 1 ELSE 0 END) OVER (PARTITION BY doc_id ORDER BY pos) AS isl FROM f), " +
      "wrds AS (SELECT doc_id, isl, pos, tok FROM i WHERE NOT stop AND tok <> ''), " +
      "wl AS (SELECT *, count(*) OVER (PARTITION BY doc_id, isl) AS plen FROM wrds), " +
      "ws AS (SELECT tok, CAST((sum(plen) * 1000000) // count(*) AS BIGINT) AS wscore FROM wl GROUP BY tok), " +
      "sc AS (SELECT wl.doc_id, wl.isl, wl.pos, wl.tok, ws.wscore FROM wl JOIN ws ON ws.tok = wl.tok), " +
      "ph AS (SELECT doc_id, isl, string_agg(tok, ' ' ORDER BY pos) AS phrase, " +
      "count(*) AS n_words, CAST(sum(wscore) AS BIGINT) AS score_micros FROM sc GROUP BY doc_id, isl) " +
      "SELECT phrase, CAST(max(n_words) AS BIGINT) AS n_words, CAST(count(*) AS BIGINT) AS n_occur, " +
      "max(score_micros) AS score_micros FROM ph GROUP BY phrase " +
      "ORDER BY score_micros DESC, phrase ASC LIMIT 30"

  /** PMI collocations (Church & Hanks 1990) — the co-occurrence
    * statistics pass under word2vec/GloVe-style training and phrase
    * mining: ordered token pairs within a forward window of 2, scored
    * by pointwise mutual information ln(p(a,b)/(p(a)p(b))) with
    * p(a,b) = c_ab/P and p(a) = c_a/N; corpus keeps the top-k pairs
    * with c_ab ≥ minCount. Scale shape: the windowed pair stream is an
    * EQUI-join — each token re-keys itself to (doc, pos+d) for d ∈
    * {1,2} and joins the token at that position (never a range/theta
    * join); pair and unigram counts are vocab²-/vocab-sized keyed
    * aggregations; the two 1-row totals ride broadcast stat frames
    * (the bm25 shape); top-k is TakeOrderedAndProject. The ln is the
    * one libm call — round6'd, and the ranking orders by the ROUNDED
    * value with a (wa, wb) tie-break (sample_weighted precedent).
    */
  def textPmi(docs: DataFrame, topK: Int = 30, minCount: Int = 5): DataFrame = {
    val toks = docs
      .select(
        col("doc_id"),
        posexplode(slice(split(col("text"), " "), 1, maxTokens)).as(Seq("pos", "tok"))
      )
      .filter(col("tok") =!= "")
    val shifted = toks
      .select(col("doc_id"), col("pos"), col("tok").as("wa"))
      .withColumn("d", explode(array(lit(1), lit(2))))
      .select(col("doc_id"), (col("pos") + col("d")).as("pos"), col("wa"))
    val pairCnt = shifted
      .join(toks.select(col("doc_id"), col("pos"), col("tok").as("wb")), Seq("doc_id", "pos"))
      .groupBy(col("wa"), col("wb"))
      .agg(count(lit(1)).as("c_ab"))
      .localCheckpoint()
    val uni = toks.groupBy(col("tok")).agg(count(lit(1)).as("c"))
    val nt = toks.agg(count(lit(1)).as("nt"))
    val np = pairCnt.agg(sum(col("c_ab")).as("np"))
    val pmiSql = graft.core.Dsp.round6Sql(
      "ln((CAST(c_ab AS DOUBLE) * CAST(nt AS DOUBLE) * CAST(nt AS DOUBLE)) / " +
        "(CAST(np AS DOUBLE) * CAST(ca AS DOUBLE) * CAST(cb AS DOUBLE)))"
    )
    pairCnt
      .filter(col("c_ab") >= minCount)
      .join(uni.select(col("tok").as("wa"), col("c").as("ca")), Seq("wa"))
      .join(uni.select(col("tok").as("wb"), col("c").as("cb")), Seq("wb"))
      .crossJoin(broadcast(nt))
      .crossJoin(broadcast(np))
      .select(col("wa"), col("wb"), col("c_ab"), expr(pmiSql).as("pmi"))
      .orderBy(col("pmi").desc, col("wa").asc, col("wb").asc)
      .limit(topK)
  }

  def textPmiSql(topK: Int = 30, minCount: Int = 5): String = {
    val pmi = graft.core.Dsp.round6Sql(
      "ln((CAST(c_ab AS DOUBLE) * CAST(nt AS DOUBLE) * CAST(nt AS DOUBLE)) / " +
        "(CAST(np AS DOUBLE) * CAST(ca AS DOUBLE) * CAST(cb AS DOUBLE)))"
    )
    s"WITH toks AS (SELECT doc_id, list_slice(string_split(text, ' '), 1, $maxTokens) AS ts FROM documents), " +
      "t AS (SELECT doc_id, g.i AS pos, list_extract(ts, g.i) AS tok FROM toks, " +
      s"generate_series(1, $maxTokens) g(i) WHERE g.i <= len(ts) AND list_extract(ts, g.i) <> ''), " +
      "pr AS MATERIALIZED (SELECT a.tok AS wa, b.tok AS wb, count(*) AS c_ab FROM t a " +
      "JOIN t b ON b.doc_id = a.doc_id AND (b.pos = a.pos + 1 OR b.pos = a.pos + 2) GROUP BY 1, 2), " +
      "uni AS MATERIALIZED (SELECT tok, count(*) AS c FROM t GROUP BY tok), " +
      "nt AS (SELECT count(*) AS nt FROM t), " +
      "np AS (SELECT CAST(sum(c_ab) AS BIGINT) AS np FROM pr) " +
      s"SELECT wa, wb, CAST(c_ab AS BIGINT) AS c_ab, $pmi AS pmi FROM " +
      "(SELECT pr.wa, pr.wb, pr.c_ab, ua.c AS ca, ub.c AS cb, nt.nt AS nt, np.np AS np FROM pr " +
      "JOIN uni ua ON ua.tok = pr.wa JOIN uni ub ON ub.tok = pr.wb CROSS JOIN nt CROSS JOIN np " +
      s"WHERE pr.c_ab >= $minCount) " +
      s"ORDER BY pmi DESC, wa ASC, wb ASC LIMIT $topK"
  }

  /** Inverted-index build — the search-index construction pass
    * ([[bm25]] SCORES ad hoc; this MATERIALIZES the index a serving
    * tier reads): per token its document frequency, collection
    * frequency, and the posting list itself, hash-pinned as the md5 of
    * the ascending-doc_id list (array cells can't ride the driver
    * canon; an index-build rewrite that reorders or drops a posting
    * breaks the hash). ONE token scan → one (tok, doc) dedup + one
    * tok-keyed aggregation — the classic MapReduce index build, all
    * equi-keyed. At 100 TB postings are the product: the same plan
    * writes `bucketBy(tok)` shards with delta-encoded lists; stopword
    * postings are the known hot keys (df ≈ corpus size) — cap df or
    * salt the tok key (Scale.skewReport decides).
    */
  def invertedIndex(docs: DataFrame): DataFrame = {
    val toks = docs
      .select(
        col("doc_id"),
        explode(slice(split(col("text"), " "), 1, maxTokens)).as("tok")
      )
      .filter(col("tok") =!= "")
    toks
      .groupBy(col("tok"))
      .agg(
        count(lit(1)).as("cf"),
        size(collect_set(col("doc_id"))).cast("long").as("df"),
        md5(
          array_join(
            transform(array_sort(collect_set(col("doc_id"))), x => x.cast("string")),
            ","
          )
        ).as("postings_md5")
      )
      .select(col("tok"), col("df"), col("cf"), col("postings_md5"))
  }

  val invertedIndexSql: String =
    s"WITH toks AS (SELECT doc_id, unnest(list_slice(string_split(text, ' '), 1, $maxTokens)) AS tok FROM documents), " +
      "f AS (SELECT doc_id, tok FROM toks WHERE tok <> ''), " +
      "d AS (SELECT DISTINCT tok, doc_id FROM f), " +
      "p AS (SELECT tok, count(*) AS df, " +
      "md5(string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id)) AS postings_md5 FROM d GROUP BY tok), " +
      "c AS (SELECT tok, count(*) AS cf FROM f GROUP BY tok) " +
      "SELECT p.tok, CAST(p.df AS BIGINT) AS df, CAST(c.cf AS BIGINT) AS cf, p.postings_md5 " +
      "FROM p JOIN c USING (tok)"

  // ---- BM25 scored retrieval (Robertson/Sparck-Jones; the corpus-
  // search primitive a curation pipeline uses for targeted sampling
  // and contamination triage) ----

  private val bm25Terms = Seq("spark", "window", "dup") // mixed-df gate query
  private val bm25K1 = 1.2
  private val bm25B = 0.75
  private val bm25TopK = 20

  /** BM25 top-k: per-document term frequencies and document length are
    * row-local projections off the scan (no token explode); the corpus
    * stats (N, avgdl, per-term df) are ONE tiny aggregate broadcast
    * back on a constant key; ranking is a global top-k
    * (TakeOrderedAndProject — never a single-partition sort of the
    * corpus). Ties at the cut rank deterministically by (rounded
    * score desc, doc_id asc) on both engines.
    *
    * idf = ln(1 + (N − df + ½)/(df + ½)) — both engines evaluate the
    * identical expression tree; every float output passes Dsp.round6.
    */
  def bm25(
      docs: DataFrame,
      terms: Seq[String] = bm25Terms,
      k1: Double = bm25K1,
      b: Double = bm25B,
      topK: Int = bm25TopK
  ): DataFrame = {
    val toks = slice(split(col("text"), " "), 1, maxTokens)
    val tfCols = terms.indices.map(i =>
      size(filter(toks, x => x === lit(terms(i)))).cast("long").as(s"tf$i")
    )
    val base = docs.select(col("doc_id") +: size(toks).cast("long").as("dl") +: tfCols: _*)
    val stats = base
      .agg(
        (sum(col("dl")).cast("double") / count(lit(1)).cast("double")).as("avgdl"),
        count(lit(1)).cast("double").as("nn") +:
          terms.indices.map(i =>
            sum(when(col(s"tf$i") > 0, 1L).otherwise(0L)).cast("double").as(s"df$i")
          ): _*
      )
      .withColumn("k", lit(1))
    val scored = base
      .withColumn("k", lit(1))
      .join(broadcast(stats), Seq("k"))
    val termScore = terms.indices.map { i =>
      val tf = col(s"tf$i").cast("double")
      val idf = log(lit(1.0) + (col("nn") - col(s"df$i") + lit(0.5)) / (col(s"df$i") + lit(0.5)))
      idf * (tf * lit(k1 + 1.0)) /
        (tf + lit(k1) * (lit(1.0) - lit(b) + lit(b) * col("dl").cast("double") / col("avgdl")))
    }
    scored
      .select(col("doc_id"), graft.core.Dsp.round6(termScore.reduce(_ + _)).as("score"))
      .filter(col("score") > 0.0)
      .orderBy(col("score").desc, col("doc_id").asc)
      .limit(topK)
  }

  def bm25Sql(
      terms: Seq[String] = bm25Terms,
      k1: Double = bm25K1,
      b: Double = bm25B,
      topK: Int = bm25TopK
  ): String = {
    import graft.core.Dsp.lit
    val sliced = s"list_slice(string_split(text, ' '), 1, $maxTokens)"
    val tfDefs = terms.indices
      .map(i => s"len(list_filter($sliced, x -> x = '${terms(i)}')) AS tf$i")
      .mkString(", ")
    val dfDefs = terms.indices
      .map(i => s"CAST(sum(CASE WHEN tf$i > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df$i")
      .mkString(", ")
    val termScore = terms.indices
      .map { i =>
        s"ln(${lit(1.0)} + (nn - df$i + ${lit(0.5)}) / (df$i + ${lit(0.5)})) * " +
          s"(CAST(tf$i AS DOUBLE) * ${lit(k1 + 1.0)}) / " +
          s"(CAST(tf$i AS DOUBLE) + ${lit(k1)} * (${lit(1.0)} - ${lit(b)} + ${lit(b)} * CAST(dl AS DOUBLE) / avgdl))"
      }
      .mkString(" + ")
    s"WITH base AS MATERIALIZED (SELECT doc_id, len($sliced) AS dl, $tfDefs FROM documents), " +
      "stats AS (SELECT CAST(sum(dl) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl, " +
      s"CAST(count(*) AS DOUBLE) AS nn, $dfDefs FROM base), " +
      s"scored AS (SELECT doc_id, ${graft.core.Dsp.round6Sql(termScore)} AS score FROM base, stats) " +
      s"SELECT doc_id, score FROM scored WHERE score > 0.0e0 ORDER BY score DESC, doc_id ASC LIMIT $topK"
  }

  /** Gopher-style repetition screen (Rae et al. 2021 §A1.1): fraction
    * of 2-grams taken by the most frequent one, and fraction that are
    * repeats of an earlier occurrence. High values flag boilerplate /
    * degenerate text. Two-level aggregation — per-(doc, 2-gram) counts
    * with map-side combine, then per-doc — a single shuffle on the
    * (doc_id, sh) hash at any corpus size.
    */
  def repetition(docs: DataFrame): DataFrame =
    shingles2(docs)
      .groupBy(col("doc_id"), col("sh"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n2"), max(col("c")).as("top"), count(lit(1)).as("nd"))
      .select(
        col("doc_id"),
        col("n2"),
        graft.core.Dsp.round6(col("top") / col("n2")).as("frac_top_2gram"),
        graft.core.Dsp.round6((col("n2") - col("nd")) / col("n2")).as("frac_dup_2gram")
      )

  val repetitionSql: String =
    s"WITH $shingles2Sql, " +
      "cnt AS (SELECT doc_id, sh, count(*) AS c FROM shingles2 GROUP BY doc_id, sh), " +
      "agg AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n2, max(c) AS top, count(*) AS nd FROM cnt GROUP BY doc_id) " +
      s"SELECT doc_id, n2, ${graft.core.Dsp.round6Sql("top / n2")} AS frac_top_2gram, " +
      s"${graft.core.Dsp.round6Sql("(n2 - nd) / n2")} AS frac_dup_2gram FROM agg"

  // ---- chunking & packing: the document → training-sequence step ----

  private val chunkTok = 32 // tokens per chunk window (gate docs are ~100 tokens → several chunks each)
  private val packCap = 256 // context-window capacity (tokens)
  private val packSalts = 8 // parallel packing streams

  /** Fixed-window chunking: split each doc's (capped) token array into
    * `chunkTok`-token windows — the doc→sample step before training.
    * Entirely row-local (explode over a computed range + array slice);
    * the md5 of each chunk's re-joined text pins content alignment,
    * not just counts, across engines.
    */
  def chunks(docs: DataFrame, winTok: Int = chunkTok): DataFrame = {
    require(winTok > 0, s"winTok must be positive, got $winTok")
    val toks = slice(split(col("text"), " "), 1, maxTokens)
    docs
      .select(col("doc_id"), toks.as("toks"), least(size(toks), lit(maxTokens)).as("dl"))
      .select(
        col("doc_id"),
        col("toks"),
        col("dl"),
        explode(sequence(lit(0), expr(s"(dl - 1) div $winTok").cast("int"))).as("chunk_id")
      )
      .select(
        col("doc_id"),
        col("chunk_id").cast("long").as("chunk_id"),
        least(col("dl") - col("chunk_id") * winTok, lit(winTok)).cast("long").as("n_tok"),
        md5(concat_ws(" ", slice(col("toks"), col("chunk_id") * winTok + 1, lit(winTok)))).as("chunk_md5")
      )
  }

  /** Winnowing window (Schleimer et al., SIGMOD 2003): every length-w
    * window over the 3-shingle hash stream contributes its MINIMUM —
    * the distinct per-doc set GUARANTEES any shared token run of
    * length ≥ w + 2 (window + shingle extent) yields a shared
    * fingerprint, which the single global-min [[queries]]
    * `text_fingerprint` can't promise. The overlap-detection primitive
    * under plagiarism/contamination triage (MOSS).
    */
  val winnowW = 4

  def winnow(docs: DataFrame, w: Int = winnowW): DataFrame =
    winnowFps(docs, w).select(col("doc_id"), explode(col("fps")).as("fp"))

  /** Lowercase hex of a digest — Spark's `md5` string form. */
  private def hex(bytes: Array[Byte]): String = {
    val sb = new java.lang.StringBuilder(bytes.length * 2)
    bytes.foreach(b => sb.append(Character.forDigit((b >> 4) & 0xf, 16)).append(Character.forDigit(b & 0xf, 16)))
    sb.toString
  }

  /** Each doc's distinct winnowing fingerprints, sorted ascending, in
    * one row-local kernel: (doc_id, fps). The 3-shingles are
    * [[shingles]]' (positions 1..min(n − 2, maxTokens) of
    * `split(text, " ")`), hashed to md5 hex; every FULL window of `w`
    * consecutive shingle hashes contributes its minimum. A doc with no
    * full window, or a null text, emits no row. Hex strings are ASCII,
    * so Java's String order is Spark's binary string order.
    */
  private[graft] def winnowFps(docs: DataFrame, w: Int = winnowW): DataFrame = {
    require(w > 0, s"w must be positive, got $w")
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .select(col("doc_id"), col("text"))
      .filter(col("text").isNotNull)
      .as[(Long, String)]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.flatMap { case (docId, text) =>
          // Spark's split(text, " ") is Java's split with limit −1
          val toks = text.split(" ", -1)
          val nSh = math.min(toks.length - 2, maxTokens)
          if (nSh < w) None
          else {
            val h = Array.tabulate(nSh) { i =>
              hex(md.digest(s"${toks(i)} ${toks(i + 1)} ${toks(i + 2)}".getBytes(java.nio.charset.StandardCharsets.UTF_8)))
            }
            val fps = Iterator.range(0, nSh - w + 1).map(j => h.slice(j, j + w).min).toArray.sorted.distinct
            Some((docId, fps))
          }
        }
      }
      .toDF("doc_id", "fps")
  }

  def winnowSql(w: Int = winnowW): String = {
    val frame = s"OVER (PARTITION BY doc_id ORDER BY i ROWS BETWEEN CURRENT ROW AND ${w - 1} FOLLOWING)"
    s"WITH $shinglesSql, " +
      "h AS (SELECT doc_id, i, md5(sh) AS h FROM shingles), " +
      s"wmin AS (SELECT doc_id, min(h) $frame AS fp, count(*) $frame AS cnt FROM h) " +
      s"SELECT DISTINCT doc_id, fp FROM wmin WHERE cnt = $w"
  }

  /** Stop-fingerprint cap for [[winnowOverlap]]: a fingerprint held by
    * more than this many docs is boilerplate (the hot-key class — the
    * df-cap is the winnowing analogue of the LSH band-width rule) and
    * is dropped before pairing; shared-fp pairs scale as Σ df² ≤
    * cap·|fps| instead of quadratically on hot keys.
    */
  val woMaxDf = 50
  val woMinShared = 2

  /** MOSS-style overlap triage: doc pairs ranked by the number of
    * SHARED winnowing fingerprints — each shared fp witnesses a shared
    * ≥ w+2-token run ([[winnow]]'s guarantee), so `n_shared` lower-
    * bounds the overlapping-run count. Equi-join on fp (never
    * all-pairs), stop-fingerprints df-capped.
    *
    * `maxDf` must WIDEN with the corpus's expected duplication factor
    * (the LSH band-width / nList companion rule): a cap below the true
    * duplicate-group size silently drops every true-positive
    * fingerprint and the screen goes VACUOUS — measured at the
    * 100×-replica decade, where df ≈ 100 > the gate cap 50 returned 0
    * pairs vs 221k at 10× (r16 finding). The gate pins the
    * oracle-replayable [[woMaxDf]]; Prof runs the widened scale config.
    */
  def winnowOverlap(docs: DataFrame, maxDf: Int = woMaxDf): DataFrame = {
    // scan fan-out before the shingle/md5 scan stage (guide §2.5;
    // measured r17: 1.5→1.1 s at sf0.1, no-op on many-split input)
    val fps = graft.core.Tables.fan(docs, "doc_id")
      .transform(winnow(_))
      .localCheckpoint() // feeds df counts + both pair sides
    val keep = fps
      .groupBy(col("fp"))
      .agg(count(lit(1)).as("dfreq"))
      .filter(col("dfreq") <= maxDf && col("dfreq") >= 2) // df=1 can't pair
      .select(col("fp"))
    val f2 = fps.join(keep, Seq("fp"))
    f2.select(col("fp"), col("doc_id").as("doc_a"))
      .join(f2.select(col("fp"), col("doc_id").as("doc_b")), Seq("fp"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= woMinShared)
  }

  def winnowOverlapSql: String =
    s"WITH wn AS MATERIALIZED (${winnowSql()}), " +
      s"keep AS (SELECT fp FROM (SELECT fp, count(*) AS dfreq FROM wn GROUP BY fp) " +
      s"WHERE dfreq <= $woMaxDf AND dfreq >= 2), " +
      "f2 AS MATERIALIZED (SELECT wn.doc_id, wn.fp FROM wn JOIN keep USING (fp)) " +
      "SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared " +
      "FROM f2 a JOIN f2 b ON a.fp = b.fp AND a.doc_id < b.doc_id " +
      s"GROUP BY a.doc_id, b.doc_id HAVING count(*) >= $woMinShared"

  /** Per-doc fingerprint cap for [[winnowTopk]] (MOSS keeps a bounded
    * fingerprint set per submission): the s SMALLEST fps by hash order —
    * consistent bottom-s sampling, so a run shared by two docs tends to
    * survive in both or neither.
    */
  val wtCap = 20
  val wtK = 3

  /** Per-doc top-k overlap triage report — the consumer-facing form of
    * [[winnowOverlap]] (a reviewer reads "worst partners per doc", not
    * the full pair table). Scales where the full pair table cannot:
    *
    *  1. each doc keeps its bottom-[[wtCap]] fingerprints (MOSS's own
    *     cap — per-doc incidence is bounded by s·df regardless of doc
    *     length), a slice of its [[winnowFps]] row;
    *  2. docs are collapsed into CLASSES by the md5 of their capped
    *     fp set (the mm_wav_fp_pairs distinct-signature rule: replica
    *     cliques — the quadratic term in the full pair table — collapse
    *     to ONE representative each, so pairing volume is over classes,
    *     clique-free by construction) in one groupBy(sig) that also
    *     carries the representative's capped set (`min_by`);
    *  3. class pairs share fps via the df-capped equi-join, exact
    *     shared-fp counts, then ONE rank window caps the report at
    *     [[wtK]] partners per class (n_shared desc, partner asc).
    *
    * Output rows are class-level: (doc_a = class representative,
    * n_docs_a = class size, rnk, doc_b, n_docs_b, n_shared) — every
    * member of a class has the same partner report by construction.
    */
  def winnowTopk(
      docs: DataFrame,
      s: Int = wtCap,
      k: Int = wtK,
      maxDf: Int = woMaxDf
  ): DataFrame = {
    require(s > 0, s"s must be positive, got $s")
    val capped = slice(col("fps"), 1, s)
    val cls = winnowFps(docs)
      .select(col("doc_id"), capped.as("fps"), md5(concat_ws(",", capped)).as("sig"))
      .groupBy(col("sig"))
      .agg(min(col("doc_id")).as("rep"), count(lit(1)).as("n_docs"), min_by(col("fps"), col("doc_id")).as("fps"))
      .localCheckpoint() // the rep fp sets + both size joins
    val cfps = cls.select(col("rep"), explode(col("fps")).as("fp"))
    val keep = cfps
      .groupBy(col("fp"))
      .agg(count(lit(1)).as("dfreq"))
      .filter(col("dfreq") <= maxDf && col("dfreq") >= 2)
      .select(col("fp"))
    val f2 = cfps.join(keep, Seq("fp"))
    val rankW = org.apache.spark.sql.expressions.Window
      .partitionBy(col("a"))
      .orderBy(col("n_shared").desc, col("b").asc)
    // count each unordered pair ONCE (a < b halves the clique-quadratic
    // aggregation input — the decade's only data-sized stream) and
    // mirror the tiny counted frame for the per-doc both-direction view
    val half = f2
      .select(col("fp"), col("rep").as("a"))
      .join(f2.select(col("fp"), col("rep").as("b")), Seq("fp"))
      .filter(col("a") < col("b"))
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= woMinShared)
      .localCheckpoint() // referenced once per orientation
    half
      .unionByName(half.select(col("b").as("a"), col("a").as("b"), col("n_shared")))
      .select(col("a"), col("b"), col("n_shared"), row_number().over(rankW).as("rnk"))
      .filter(col("rnk") <= k)
      .join(cls.select(col("rep").as("a"), col("n_docs").as("n_docs_a")), Seq("a"))
      .join(cls.select(col("rep").as("b"), col("n_docs").as("n_docs_b")), Seq("b"))
      .select(
        col("a").as("doc_a"),
        col("n_docs_a"),
        col("rnk"),
        col("b").as("doc_b"),
        col("n_docs_b"),
        col("n_shared")
      )
  }

  def winnowTopkSql(s: Int = wtCap, k: Int = wtK, maxDf: Int = woMaxDf): String =
    s"WITH wn AS MATERIALIZED (${winnowSql()}), " +
      "capped AS MATERIALIZED (SELECT doc_id, fp FROM (" +
      "SELECT doc_id, fp, row_number() OVER (PARTITION BY doc_id ORDER BY fp) AS rn FROM wn" +
      s") WHERE rn <= $s), " +
      "cls AS MATERIALIZED (SELECT sig, min(doc_id) AS rep, count(*) AS n_docs FROM (" +
      "SELECT doc_id, md5(string_agg(fp, ',' ORDER BY fp)) AS sig FROM capped GROUP BY doc_id" +
      ") GROUP BY sig), " +
      "cfps AS MATERIALIZED (SELECT cls.rep, capped.fp FROM capped JOIN cls ON capped.doc_id = cls.rep), " +
      s"keep AS (SELECT fp FROM (SELECT fp, count(*) AS dfreq FROM cfps GROUP BY fp) " +
      s"WHERE dfreq <= $maxDf AND dfreq >= 2), " +
      "f2 AS MATERIALIZED (SELECT cfps.rep, cfps.fp FROM cfps JOIN keep USING (fp)), " +
      "pc AS (SELECT a.rep AS a, b.rep AS b, count(*) AS n_shared " +
      "FROM f2 a JOIN f2 b ON a.fp = b.fp AND a.rep <> b.rep " +
      s"GROUP BY a.rep, b.rep HAVING count(*) >= $woMinShared), " +
      "rk AS (SELECT a, b, n_shared, " +
      "row_number() OVER (PARTITION BY a ORDER BY n_shared DESC, b ASC) AS rnk FROM pc) " +
      "SELECT rk.a AS doc_a, ca.n_docs AS n_docs_a, rk.rnk, rk.b AS doc_b, cb.n_docs AS n_docs_b, rk.n_shared " +
      s"FROM rk JOIN cls ca ON ca.rep = rk.a JOIN cls cb ON cb.rep = rk.b WHERE rk.rnk <= $k"

  /** Content-defined chunking divisor: a token whose hash ≡ 0 (mod 16)
    * ENDS its chunk, giving ~16-token mean chunks on the gate corpus.
    */
  val cdcDiv = 16

  /** Content-DEFINED chunking (the gear/rolling-hash CDC family, per
    * token): boundaries fall where the TOKEN's hash ≡ 0 mod [[cdcDiv]],
    * so inserting or deleting text early in a document only perturbs
    * chunks up to the next boundary — every later chunk keeps its
    * content hash (the shift-robustness [[chunks]]' fixed windows lack,
    * and what production dedup pipelines chunk with; spec-pinned on a
    * planted head-insertion). chunk_id is a running boundary count
    * (window over the doc_id partition); the chunk aggregation reuses
    * the same hash partitioning (doc_id ⊆ (doc_id, chunk_id) — one
    * shuffle total). chunk_md5 pins content alignment cross-engine.
    */
  /** CHAR-level gear-hash CDC — the FastCDC/gear family's granularity
    * (the token-level [[chunksCdc]] needs a tokenizer; production
    * dedup chunks raw bytes): the boundary test at position i hashes
    * the trailing [[gearW]]-char window, Σ_j gear(c_{i−j})·3^j mod p
    * (p = 2^31−1, gear = 15-bit md5-derived per-char constants), and
    * i ends a chunk when i ≥ W and h ≡ 0 (mod [[gearDiv]]) — so an
    * insertion perturbs boundaries only until the window clears it
    * (shift-robustness, spec-pinned). The true FastCDC min/max bounds
    * are the SEQUENTIAL variant (each boundary depends on the
    * previous); this is the parallel form (cf. parallel-CDC designs
    * that chunk unbounded then post-merge runts) — wholly positional,
    * so the hash is a 48-term lag-sum over ONE doc-keyed window (exact
    * BIGINT: terms < 2^46, sum < 2^52) and chunking is the same
    * running boundary count as chunksCdc. One exchange total.
    */
  val gearW = 48
  val gearDiv = 64
  val gearMaxChars = 2048
  private val gearP = 2147483647L

  private def gearPow(j: Int): Long = {
    var r = 1L
    var k = 0
    while (k < j) { r = r * 3 % gearP; k += 1 }
    r
  }

  def chunksGear(docs: DataFrame): DataFrame = {
    // ROW-LOCAL KERNEL (r13): the original form exploded every char
    // (≈2048 rows/doc) through a 48-lag window — one doc-keyed
    // exchange plus a 10M-row window sort at sf0.1, 4.6 s warm as the
    // priciest row-local gate. The hash is wholly positional within
    // one doc, so the honest form (wordpiece precedent) is a per-doc
    // Scala loop computing the IDENTICAL 48-term lag-sum mod p,
    // boundary rule, and per-chunk md5 — ZERO exchanges, and the gate
    // now pins algorithm agreement between this kernel and the
    // independent SQL lag-sum derivation (chunksGearSql, unchanged).
    // Exactness: terms g·3^j < 2^46, the 48-term sum < 2^52 — the
    // same no-overflow argument the SQL relies on; per-char g memoizes
    // (corpus charset is small). ASCII corpus: char == code point
    // (the dedup_edit byte-vs-codepoint note applies to non-ASCII).
    val spark = docs.sparkSession
    import spark.implicits._
    val powers: Array[Long] = (0 until gearW).map(gearPow).toArray
    docs
      .select(col("doc_id"), expr(s"substr(text, 1, $gearMaxChars)").as("t"))
      // empty docs emit no chunks (the oracle's generate_series emits
      // no char rows for them)
      .filter(length(col("t")) >= 1)
      .as[(Long, String)]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        val gMemo = scala.collection.mutable.HashMap.empty[Char, Long]
        def g(c: Char): Long = gMemo.getOrElseUpdate(
          c, {
            val h4 = hex(md.digest(String.valueOf(c).getBytes("UTF-8"))).substring(0, 4)
            java.lang.Long.parseLong(h4, 16) % 32768L
          }
        )
        it.flatMap { case (docId, t) =>
          val n = t.length
          val gs = new Array[Long](n + 1) // 1-based, gs(k ≤ 0) ≡ 0 (the lag default)
          var i = 1
          while (i <= n) { gs(i) = g(t.charAt(i - 1)); i += 1 }
          val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, String)]
          var chunkId = 0L
          var start = 1
          i = 1
          while (i <= n) {
            var h = 0L
            var j = 0
            while (j < gearW) {
              val k = i - j
              if (k >= 1) h += gs(k) * powers(j)
              j += 1
            }
            if (i >= gearW && h % gearP % gearDiv == 0L) {
              out += ((docId, chunkId, (i - start + 1).toLong, hex(md.digest(t.substring(start - 1, i).getBytes("UTF-8")))))
              chunkId += 1
              start = i + 1
            }
            i += 1
          }
          if (start <= n)
            out += ((docId, chunkId, (n - start + 1).toLong, hex(md.digest(t.substring(start - 1, n).getBytes("UTF-8")))))
          out
        }
      }
      .toDF("doc_id", "chunk_id", "n_chars", "chunk_md5")
  }

  def chunksGearSql: String = {
    val terms = (0 until gearW)
      .map(j => s"lag(g, $j, 0) OVER win * ${gearPow(j)}")
      .mkString(" + ")
    s"WITH t AS (SELECT doc_id, substr(text, 1, $gearMaxChars) AS t FROM documents), " +
      "c AS (SELECT doc_id, g.i AS i, substr(t, g.i, 1) AS ch, " +
      "CAST(concat('0x', substr(md5(substr(t, g.i, 1)), 1, 4)) AS BIGINT) % 32768 AS g " +
      s"FROM t, generate_series(1, $gearMaxChars) g(i) WHERE g.i <= length(t)), " +
      s"h AS (SELECT doc_id, i, ch, ($terms) % $gearP AS h FROM c " +
      "WINDOW win AS (PARTITION BY doc_id ORDER BY i)), " +
      s"b AS (SELECT doc_id, i, ch, CASE WHEN i >= $gearW AND h % $gearDiv = 0 THEN 1 ELSE 0 END AS b FROM h), " +
      "cid AS (SELECT doc_id, i, ch, coalesce(CAST(sum(b) OVER (PARTITION BY doc_id ORDER BY i " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS chunk_id FROM b) " +
      "SELECT doc_id, chunk_id, CAST(count(*) AS BIGINT) AS n_chars, " +
      "md5(string_agg(ch, '' ORDER BY i)) AS chunk_md5 FROM cid GROUP BY doc_id, chunk_id"
  }

  def chunksCdc(docs: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id"))
      .orderBy(col("i"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    tokens(docs)
      .select(
        col("doc_id"),
        col("i"),
        col("tok"),
        (conv(substring(md5(col("tok")), 1, 8), 16, 10).cast("long") % cdcDiv === 0)
          .cast("long")
          .as("b")
      )
      .select(col("doc_id"), col("i"), col("tok"), coalesce(sum(col("b")).over(w), lit(0L)).as("chunk_id"))
      .groupBy(col("doc_id"), col("chunk_id"))
      .agg(
        count(lit(1)).as("n_tok"),
        md5(
          concat_ws(
            " ",
            transform(sort_array(collect_list(struct(col("i"), col("tok")))), e => e.getField("tok"))
          )
        ).as("chunk_md5")
      )
  }

  def chunksCdcSql: String =
    s"WITH $tokensSql, " +
      s"b AS (SELECT doc_id, i, tok, CASE WHEN CAST(concat('0x', substr(md5(tok), 1, 8)) AS BIGINT) % $cdcDiv = 0 " +
      "THEN 1 ELSE 0 END AS b FROM tokens), " +
      "cid AS (SELECT doc_id, i, tok, coalesce(CAST(sum(b) OVER (PARTITION BY doc_id ORDER BY i " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS chunk_id FROM b) " +
      "SELECT doc_id, chunk_id, CAST(count(*) AS BIGINT) AS n_tok, " +
      "md5(array_to_string(list(tok ORDER BY i), ' ')) AS chunk_md5 FROM cid GROUP BY doc_id, chunk_id"

  def chunksSql(winTok: Int = chunkTok): String =
    s"WITH t AS (SELECT doc_id, list_slice(string_split(text, ' '), 1, $maxTokens) AS toks FROM documents), " +
      s"d AS (SELECT doc_id, toks, least(len(toks), $maxTokens) AS dl FROM t) " +
      s"SELECT doc_id, CAST(g.c AS BIGINT) AS chunk_id, " +
      s"CAST(least(dl - g.c * $winTok, $winTok) AS BIGINT) AS n_tok, " +
      s"md5(array_to_string(list_slice(toks, g.c * $winTok + 1, g.c * $winTok + $winTok), ' ')) AS chunk_md5 " +
      s"FROM d, generate_series(0, $maxTokens) g(c) WHERE g.c <= (dl - 1) // $winTok"

  /** Concat-and-chunk sequence packing: docs are concatenated in
    * doc_id order within `nSalts` parallel streams (salt = doc_id %
    * nSalts) and the stream is sliced into `cap`-token context
    * windows; emits where each doc lands (window index + offset of its
    * first token). This is the data-loader's packing arithmetic as a
    * query — integer-only, so no float parity surface. The salt bounds
    * every window partition at corpus_size/nSalts — packing stays
    * parallel at any scale (one global stream would be a
    * single-partition window).
    */
  def pack(docs: DataFrame, cap: Int = packCap, nSalts: Int = packSalts): DataFrame = {
    val dl = least(size(split(col("text"), " ")), lit(maxTokens)).cast("long")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("salt"))
      .orderBy(col("doc_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    docs
      .select(col("doc_id"), (col("doc_id") % nSalts).as("salt"), dl.as("dl"))
      .select(col("doc_id"), col("salt"), col("dl"), (sum(col("dl")).over(w) - col("dl")).as("start"))
      .select(
        col("doc_id"),
        col("salt"),
        col("dl").as("n_tok"),
        expr(s"start div $cap").as("bin_id"),
        (col("start") % cap).as("bin_offset")
      )
  }

  def packSql(cap: Int = packCap, nSalts: Int = packSalts): String =
    s"WITH d AS (SELECT doc_id, doc_id % $nSalts AS salt, " +
      s"CAST(least(len(string_split(text, ' ')), $maxTokens) AS BIGINT) AS dl FROM documents), " +
      "s AS (SELECT doc_id, salt, dl, CAST(sum(dl) OVER (PARTITION BY salt ORDER BY doc_id " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) - dl AS start FROM d) " +
      s"SELECT doc_id, salt, dl AS n_tok, start // $cap AS bin_id, start % $cap AS bin_offset FROM s"

  /** Corpus-unigram log-probability per doc — the cheap LM-quality
    * proxy (docs whose tokens are globally rare score low; gibberish
    * screens, mix diagnostics). The vocab join deliberately carries NO
    * broadcast hint: distinct-token counts are unbounded at web scale
    * (hapax legomena grow with the corpus), so Catalyst must stay free
    * to pick a shuffle hash join; only the 1-row total is broadcast.
    */
  def unigramLogProb(docs: DataFrame): DataFrame = {
    val toks = tokens(docs).select(col("doc_id"), col("tok"))
    val tf = toks.groupBy(col("tok")).agg(count(lit(1)).as("ctf"))
    val totals = tf.agg(sum(col("ctf")).as("ntok")).withColumn("k", lit(1))
    toks
      .join(tf, Seq("tok"))
      .withColumn("k", lit(1))
      .join(broadcast(totals), Seq("k"))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_tok"),
        sum(log(col("ctf") / col("ntok"))).as("lp")
      )
      .select(
        col("doc_id"),
        col("n_tok"),
        graft.core.Dsp.round6(col("lp") / col("n_tok")).as("avg_logprob")
      )
  }

  /** Bigram LM-quality proxy — the order-2 upgrade of
    * [[unigramLogProb]]: per doc, the average corpus-conditional
    * log P(w_i | w_{i-1}) = ln(n(w_{i-1} w_i) / n(w_{i-1} ·)), scoring
    * the corpus against its own bigram table (no OOV: every scored
    * bigram has count ≥ 1). Low scores flag locally-incoherent token
    * streams that unigram frequency alone cannot see. Docs shorter
    * than 2 tokens emit no row (filtered BEFORE the index sequence —
    * Spark's descending-sequence crash class).
    *
    * Scale shape: bigram strings assemble row-locally off the token
    * array, then two (bigram)- and (first-token)-keyed aggregations
    * with map-side combine and hash joins back — the unigram shape ×2.
    */
  def bigramLogProb(docs: DataFrame): DataFrame = {
    val bg = docs
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .filter(size(col("toks")) >= 2)
      .select(
        col("doc_id"),
        explode(
          expr(s"transform(sequence(1, least(size(toks) - 1, $maxTokens)), i -> " +
            "concat(element_at(toks, i), ' ', element_at(toks, i + 1)))")
        ).as("bg")
      )
    val bgCounts = bg.groupBy(col("bg")).agg(count(lit(1)).as("n_ab"))
    val firstCounts = bg
      .select(substring_index(col("bg"), " ", 1).as("w1"))
      .groupBy(col("w1"))
      .agg(count(lit(1)).as("n_a"))
    bg.join(bgCounts, Seq("bg"))
      .withColumn("w1", substring_index(col("bg"), " ", 1))
      .join(firstCounts, Seq("w1"))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_bigrams"),
        sum(log(col("n_ab") / col("n_a"))).as("lp")
      )
      .select(
        col("doc_id"),
        col("n_bigrams"),
        graft.core.Dsp.round6(col("lp") / col("n_bigrams")).as("avg_logprob")
      )
  }

  /** Interpolated KNESER-NEY bigram scoring — the smoothing the
    * CCNet/KenLM stack actually ships (the MLE [[bigramLogProb]] is
    * the unsmoothed ceiling): absolute discount d = 0.75 with the
    * continuation-probability backoff,
    *   P(w2|w1) = (max(c(w1w2) − d, 0) + d · N1+(w1,·) · Pcont(w2)) / c(w1,·)
    *   Pcont(w2) = N1+(·,w2) / |distinct bigram types|.
    * All model inputs are INTEGER aggregates (bigram count, left
    * count, distinct-right-per-left, distinct-left-per-right, total
    * types); the score term is ONE shared closed-form expression
    * string (filter_response precedent — both engines parse it
    * verbatim, parity = libm ln ulps under round6; the per-doc sum
    * order class matches the green bigram gate). Shape: the bigram
    * stream feeds four keyed aggregations + one 1-row total
    * (constant-key broadcast — the bm25 BNLJ shape), joins back, one
    * doc rollup.
    */
  private val knTermSql: String =
    "ln((greatest(CAST(n_ab AS DOUBLE) - 0.75e0, 0.0e0) + " +
      "((0.75e0 * CAST(t1 AS DOUBLE)) * CAST(t2 AS DOUBLE)) / CAST(tt AS DOUBLE)) / CAST(n_a AS DOUBLE))"

  def bigramKn(docs: DataFrame): DataFrame = {
    val bg = docs
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .filter(size(col("toks")) >= 2)
      .select(
        col("doc_id"),
        explode(
          expr(s"transform(sequence(1, least(size(toks) - 1, $maxTokens)), i -> " +
            "concat(element_at(toks, i), ' ', element_at(toks, i + 1)))")
        ).as("bg")
      )
      .withColumn("w1", substring_index(col("bg"), " ", 1))
      .withColumn("w2", substring_index(col("bg"), " ", -1))
      .localCheckpoint() // feeds FIVE aggregates + the scoring join (fan-out rule)
    val bgCounts = bg.groupBy(col("bg")).agg(count(lit(1)).as("n_ab"))
    val w1Stats = bg
      .groupBy(col("w1"))
      .agg(count(lit(1)).as("n_a"), count_distinct(col("w2")).as("t1"))
    val w2Cont = bg
      .select(col("w1"), col("w2"))
      .distinct()
      .groupBy(col("w2"))
      .agg(count(lit(1)).as("t2"))
    val total = bgCounts.agg(count(lit(1)).as("tt")).withColumn("k", lit(1))
    bg.join(bgCounts, Seq("bg"))
      .join(w1Stats, Seq("w1"))
      .join(w2Cont, Seq("w2"))
      .withColumn("k", lit(1))
      .join(broadcast(total), Seq("k"))
      .withColumn("term", expr(knTermSql))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("term")).as("lp"))
      .select(
        col("doc_id"),
        col("n_bigrams"),
        graft.core.Dsp.round6(col("lp") / col("n_bigrams")).as("avg_logprob_kn")
      )
  }

  val bigramKnSql: String =
    s"WITH tl AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents), " +
      s"bg AS MATERIALIZED (SELECT doc_id, list_extract(toks, g.i) || ' ' || list_extract(toks, g.i + 1) AS bg " +
      s"FROM tl, generate_series(1, $maxTokens) g(i) WHERE len(toks) >= 2 AND g.i <= len(toks) - 1), " +
      "bgw AS MATERIALIZED (SELECT doc_id, bg, split_part(bg, ' ', 1) AS w1, split_part(bg, ' ', 2) AS w2 FROM bg), " +
      "bc AS MATERIALIZED (SELECT bg, count(*) AS n_ab FROM bgw GROUP BY bg), " +
      "w1s AS (SELECT w1, count(*) AS n_a, count(DISTINCT w2) AS t1 FROM bgw GROUP BY w1), " +
      "w2s AS (SELECT w2, count(DISTINCT w1) AS t2 FROM bgw GROUP BY w2), " +
      "tot AS (SELECT count(*) AS tt FROM bc) " +
      "SELECT doc_id, count(*) AS n_bigrams, " +
      s"${graft.core.Dsp.round6Sql(s"sum($knTermSql) / count(*)")} AS avg_logprob_kn " +
      "FROM bgw JOIN bc USING (bg) JOIN w1s USING (w1) JOIN w2s USING (w2), tot GROUP BY doc_id"

  /** CTE chain (tl/bg/bc/fc/blp) ending in per-doc (doc_id, n_bigrams,
    * avg_logprob); compose with a final select ([[bigramLogProbSql]])
    * or embed in a larger oracle ([[ccnetSql]]). */
  def bigramLogProbCtes(table: String): String =
    s"tl AS (SELECT doc_id, string_split(text, ' ') AS toks FROM $table), " +
      s"bg AS MATERIALIZED (SELECT doc_id, list_extract(toks, g.i) || ' ' || list_extract(toks, g.i + 1) AS bg " +
      s"FROM tl, generate_series(1, $maxTokens) g(i) WHERE len(toks) >= 2 AND g.i <= len(toks) - 1), " +
      "bc AS MATERIALIZED (SELECT bg, count(*) AS n_ab FROM bg GROUP BY bg), " +
      "fc AS (SELECT split_part(bg, ' ', 1) AS w1, count(*) AS n_a FROM bg GROUP BY 1), " +
      "blp AS MATERIALIZED (SELECT doc_id, count(*) AS n_bigrams, " +
      s"${graft.core.Dsp.round6Sql("sum(ln(n_ab / n_a)) / count(*)")} AS avg_logprob " +
      "FROM bg b JOIN bc USING (bg) JOIN fc ON fc.w1 = split_part(b.bg, ' ', 1) GROUP BY doc_id)"

  val bigramLogProbSql: String =
    "WITH " + bigramLogProbCtes("documents") +
      " SELECT doc_id, n_bigrams, avg_logprob FROM blp"

  /** The FULL Gopher repetition screen (Rae et al. 2021, App. A1) —
    * the remaining two rule families [[repetition]] (n=2 only) and
    * [[gopher]] (non-repetition rules) left uncovered: fraction of
    * tokens inside occurrences of the most frequent n-gram for
    * n = 2..4 (capped at 1 — overlapping occurrences can overcount),
    * and the fraction of token positions covered by ANY n-gram that
    * appears ≥2 times within the doc for n = 5..10 (overlaps counted
    * once — the position-coverage union, token-level rather than the
    * paper's characters). `pass` applies the published thresholds to
    * the ROUNDED fractions (artifact_mask precedent; ratios over
    * power-of-2 token counts land on exact 6dp halves, so Dsp.round6).
    *
    * Wholly per-doc: the 9-way n-gram stream is a projection (no
    * checkpoint — cheap to recompute, the langid precedent), counts
    * and coverage reduce per (doc, n) with map-side combine; the one
    * data-sized exchange is the (doc, n, gram) aggregation. The ~9×
    * token-volume constant is inherent to the published screen.
    */
  def repetitionFull(docs: DataFrame): DataFrame = {
    val base = docs
      .select(col("doc_id"), slice(split(col("text"), " "), 1, maxTokens).as("toks"))
      .withColumn("nt", size(col("toks")))
    val g = base
      .select(col("doc_id"), col("nt"), col("toks"), explode(expr("sequence(2, 10)")).as("n"))
      .filter(col("nt") >= col("n")) // BEFORE the index sequence (descending-sequence crash class)
      .select(col("doc_id"), col("nt"), col("n"), col("toks"),
        explode(expr("sequence(1, nt - n + 1)")).as("i"))
      .select(col("doc_id"), col("nt"), col("n"), col("i"),
        expr("concat_ws(' ', slice(toks, i, n))").as("gram"))
    val c = g.groupBy(col("doc_id"), col("nt"), col("n"), col("gram")).agg(count(lit(1)).as("c"))
    val topm = c
      .filter(col("n") <= 4)
      .groupBy(col("doc_id"), col("nt"), col("n"))
      .agg(max(col("c")).as("mc"))
      .select(col("doc_id"), col("n"),
        graft.core.Dsp.round6(least(lit(1.0), (col("mc") * col("n")).cast("double") / col("nt"))).as("f"))
    val dupm = g
      .join(
        c.filter(col("c") >= 2 && col("n") >= 5).select(col("doc_id"), col("n"), col("gram")),
        Seq("doc_id", "n", "gram")
      )
      .select(col("doc_id"), col("nt"), col("n"), explode(expr("sequence(i, i + n - 1)")).as("p"))
      .groupBy(col("doc_id"), col("nt"), col("n"))
      .agg(countDistinct(col("p")).as("cov"))
      .select(col("doc_id"), col("n"),
        graft.core.Dsp.round6(col("cov").cast("double") / col("nt")).as("f"))
    val metrics = topm.union(dupm)
    val aggs = (2 to 4).map(n =>
      coalesce(max(when(col("n") === n, col("f"))), lit(0.0)).as(s"frac_top_$n")) ++
      (5 to 10).map(n =>
        coalesce(max(when(col("n") === n, col("f"))), lit(0.0)).as(s"frac_dup_$n"))
    base
      .select(col("doc_id"), col("nt"))
      .join(metrics, Seq("doc_id"), "left")
      .groupBy(col("doc_id"), col("nt"))
      .agg(aggs.head, aggs.tail: _*)
      .withColumn("pass", expr(repetitionPassExpr))
  }

  // ONE boolean expression string over the rounded fractions, parsed
  // identically by both engines — the published App. A1 thresholds
  private val repetitionPassExpr: String =
    "(frac_top_2 <= 0.2e0 AND frac_top_3 <= 0.18e0 AND frac_top_4 <= 0.16e0 AND " +
      "frac_dup_5 <= 0.15e0 AND frac_dup_6 <= 0.14e0 AND frac_dup_7 <= 0.13e0 AND " +
      "frac_dup_8 <= 0.12e0 AND frac_dup_9 <= 0.11e0 AND frac_dup_10 <= 0.1e0)"

  val repetitionFullSql: String = {
    val r6 = (e: String) => graft.core.Dsp.round6Sql(e)
    val tops = (2 to 4).map(n =>
      s"coalesce(max(CASE WHEN n = $n THEN f END), 0.0e0) AS frac_top_$n").mkString(", ")
    val dups = (5 to 10).map(n =>
      s"coalesce(max(CASE WHEN n = $n THEN f END), 0.0e0) AS frac_dup_$n").mkString(", ")
    s"WITH t AS (SELECT doc_id, list_slice(string_split(text, ' '), 1, $maxTokens) AS toks FROM documents), " +
      "b AS (SELECT doc_id, toks, len(toks) AS nt FROM t), " +
      "g AS MATERIALIZED (SELECT doc_id, nt, nn.n AS n, gi.i AS i, " +
      "array_to_string(list_slice(toks, gi.i, gi.i + nn.n - 1), ' ') AS gram " +
      "FROM b, (SELECT unnest(generate_series(2, 10)) AS n) nn, " +
      s"generate_series(1, $maxTokens) gi(i) WHERE nt >= nn.n AND gi.i <= nt - nn.n + 1), " +
      "c AS MATERIALIZED (SELECT doc_id, nt, n, gram, count(*) AS c FROM g GROUP BY doc_id, nt, n, gram), " +
      "topm AS (SELECT doc_id, n, " +
      r6("least(1.0e0, CAST(mc * n AS DOUBLE) / nt)") + " AS f " +
      "FROM (SELECT doc_id, nt, n, max(c) AS mc FROM c WHERE n <= 4 GROUP BY doc_id, nt, n)), " +
      "dpos AS (SELECT DISTINCT g.doc_id, g.nt, g.n, g.i + o.k AS p " +
      "FROM g JOIN c ON c.doc_id = g.doc_id AND c.n = g.n AND c.gram = g.gram, " +
      "generate_series(0, 9) o(k) WHERE c.c >= 2 AND g.n >= 5 AND o.k <= g.n - 1), " +
      "dupm AS (SELECT doc_id, n, " + r6("CAST(count(*) AS DOUBLE) / nt") + " AS f " +
      "FROM dpos GROUP BY doc_id, nt, n), " +
      "m AS (SELECT * FROM topm UNION ALL SELECT * FROM dupm), " +
      s"w AS (SELECT b.doc_id, b.nt, $tops, $dups " +
      "FROM b LEFT JOIN m ON m.doc_id = b.doc_id GROUP BY b.doc_id, b.nt) " +
      s"SELECT doc_id, nt, frac_top_2, frac_top_3, frac_top_4, frac_dup_5, frac_dup_6, " +
      s"frac_dup_7, frac_dup_8, frac_dup_9, frac_dup_10, $repetitionPassExpr AS pass FROM w"
  }

  /** CCNet-style perplexity bucketing (Wenzek et al., LREC 2020): rank
    * every document by LM score WITHIN ITS LANGUAGE and split each
    * language into head / middle / tail terciles — the standard cheap
    * quality tiering a multilingual web corpus gets before training.
    * The LM here is the corpus's own bigram table ([[bigramLogProb]];
    * higher avg log-prob = lower perplexity = better).
    *
    * Bucketing is by SCORE CUTOFF, not per-doc rank: the per-lang
    * (score, count) aggregate — bounded by distinct 6dp scores, far
    * smaller than the corpus — gets a running count ordered score-DESC,
    * and a score lands in head/middle/tail by whether the cumulative
    * count BEFORE it is under n/3 or 2n/3 (integer arithmetic, exact on
    * both engines; ties share a bucket exactly as CCNet's value
    * cutoffs do). At 100 TB this is the deployable shape: cutoffs come
    * from an aggregate sized by score cardinality, bucketing is a
    * row-local compare after an equi-join — never a corpus-wide sort.
    */
  def ccnet(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // fan-out rule: scored feeds both the cutoff aggregate and the
    // final join — checkpoint so the bigram chain runs once
    val scored = bigramLogProb(docs)
      .select(col("doc_id"), col("avg_logprob"))
      .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
      .localCheckpoint(true)
    val ag = scored
      .groupBy(col("lang").as("lg"), col("avg_logprob").as("sc"))
      .agg(count(lit(1)).as("c"))
    val cum = sum(col("c")).over(Window.partitionBy(col("lg")).orderBy(col("sc").desc))
    val n = sum(col("c")).over(Window.partitionBy(col("lg")))
    val buckets = ag
      .select(col("lg"), col("sc"), col("c"), cum.as("cum"), n.as("n"))
      .select(
        col("lg"),
        col("sc"),
        when(lit(3) * (col("cum") - col("c")) < col("n"), "head")
          .when(lit(3) * (col("cum") - col("c")) < lit(2) * col("n"), "middle")
          .otherwise("tail")
          .as("ppl_bucket")
      )
    scored
      .join(buckets, col("lang") === col("lg") && col("avg_logprob") === col("sc"))
      .select(col("doc_id"), col("lang"), col("avg_logprob"), col("ppl_bucket"))
  }

  val ccnetSql: String =
    "WITH " + bigramLogProbCtes("documents") + ", " +
      "sl AS MATERIALIZED (SELECT d.doc_id, d.lang, b.avg_logprob FROM documents d JOIN blp b USING (doc_id)), " +
      "ag AS MATERIALIZED (SELECT lang, avg_logprob AS sc, count(*) AS c FROM sl GROUP BY 1, 2), " +
      "cw AS (SELECT lang, sc, c, " +
      "sum(c) OVER (PARTITION BY lang ORDER BY sc DESC) AS cum, " +
      "sum(c) OVER (PARTITION BY lang) AS n FROM ag), " +
      "bk AS (SELECT lang, sc, CASE WHEN 3 * (cum - c) < n THEN 'head' " +
      "WHEN 3 * (cum - c) < 2 * n THEN 'middle' ELSE 'tail' END AS ppl_bucket FROM cw) " +
      "SELECT sl.doc_id, sl.lang, sl.avg_logprob, bk.ppl_bucket " +
      "FROM sl JOIN bk ON bk.lang = sl.lang AND bk.sc = sl.avg_logprob"

  val unigramLogProbSql: String =
    s"WITH $tokensSql, " +
      "tf AS MATERIALIZED (SELECT tok, count(*) AS ctf FROM tokens GROUP BY tok), " +
      "tot AS (SELECT CAST(sum(ctf) AS BIGINT) AS ntok FROM tf) " +
      "SELECT doc_id, count(*) AS n_tok, " +
      s"${graft.core.Dsp.round6Sql("sum(ln(ctf / ntok)) / count(*)")} AS avg_logprob " +
      "FROM tokens t JOIN tf USING (tok), tot GROUP BY doc_id"

  /** Multi-class language ID via per-language character-trigram
    * log-probability tables with add-one smoothing — the standard
    * n-gram langid shape (Cavnar–Trenkle). Tables train from `train`'s
    * own (text, lang) pairs as two tiny aggregations; scoring is the
    * canonical broadcast-dim join: positional doc trigrams × languages,
    * left-joined to the (lang, trigram) table, summed, argmax by the
    * ROUNDED score (round6 before ranking on both engines — raw float
    * argmax could flip on sub-ulp score gaps). Docs with no trigram
    * emit ('unk', 0.0).
    *
    * The GATE corpus's lang column is metadata uncorrelated with its
    * synthetic text (word distributions are statistically identical
    * across langs — measured L1 ≈ 0.03), so the gate checks PARITY of
    * the full train+score pipeline; discriminative power is asserted in
    * LlmSpec on planted languages with disjoint alphabets (the
    * IVF-isotropic-corpus precedent).
    *
    * Scale: trigram tables are bounded by langs × charset³ regardless
    * of corpus size — genuinely broadcastable; the score join is
    * map-side, the per-(doc, lang) sum is the one exchange.
    */
  // a 64-char prefix carries enough trigram signal for language ID
  // (holdout accuracy ≥ 0.95 still asserted in LlmSpec) and cuts every
  // pass over the trigram stream 4× vs the former 256 — at 100 TB the
  // prefix IS the design: LID never needs the document body
  val langidMaxChars = 64

  private def charTrigrams(df: DataFrame): DataFrame =
    df.select(col("doc_id"), col("lang"), substring(col("text"), 1, langidMaxChars).as("s"))
      .filter(length(col("s")) >= 3)
      .select(
        col("doc_id"),
        col("lang"),
        explode(expr("transform(sequence(1, length(s) - 2), i -> substring(s, i, 3))")).as("t")
      )

  def langidNgram(docs: DataFrame, trainOpt: Option[DataFrame] = None): DataFrame = {
    // the trigram stream feeds training AND scoring, but it is NOT
    // checkpointed: the explode is deterministic and recomputing it is
    // ~4× cheaper than materializing 1.2M rows through the block
    // manager (measured at sf0.1) — the components() checkpoint rule
    // applies to expensive/iterative subtrees, not cheap projections;
    // only the tiny (lang, trigram) table below is pinned
    val tri = charTrigrams(docs)
    val triT = trainOpt.map(charTrigrams).getOrElse(tri)
    // nl (per-lang totals) and vv (vocab size) are aggregates OF tf —
    // derive them from the bounded (lang, trigram) table instead of two
    // more full passes over the corpus trigram stream (3 scans → 1);
    // checkpoint tf so the three consumers don't re-aggregate it
    val tf = triT.groupBy(col("lang"), col("t")).agg(count(lit(1)).as("c")).localCheckpoint()
    val nl = tf.groupBy(col("lang")).agg(sum(col("c")).as("n"))
    val vv = tf.agg(countDistinct(col("t")).as("v"))
    val sc = tri
      .select(col("doc_id"), col("t"))
      .crossJoin(broadcast(nl))
      .crossJoin(broadcast(vv))
      .join(broadcast(tf).withColumnRenamed("lang", "lang2").withColumnRenamed("t", "t2"),
        col("lang") === col("lang2") && col("t") === col("t2"), "left")
      .select(
        col("doc_id"),
        col("lang"),
        log((coalesce(col("c"), lit(0L)) + 1).cast("double") / (col("n") + col("v")).cast("double")).as("lp")
      )
      .groupBy(col("doc_id"), col("lang"))
      .agg(graft.core.Dsp.round6(sum(col("lp"))).as("score"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("lang").asc)
    val pred = sc
      .select(col("doc_id"), col("lang"), col("score"), row_number().over(w).as("rn"))
      .filter(col("rn") === 1)
    docs
      .select(col("doc_id"))
      .join(pred, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        coalesce(col("lang"), lit("unk")).as("lang_pred"),
        coalesce(col("score"), lit(0.0)).as("score")
      )
  }

  val langidNgramSql: String = {
    val r6 = (e: String) => graft.core.Dsp.round6Sql(e)
    s"WITH base AS MATERIALIZED (SELECT doc_id, lang, substr(text, 1, $langidMaxChars) AS s " +
      "FROM documents WHERE length(substr(text, 1, " + langidMaxChars + ")) >= 3), " +
      s"tri AS MATERIALIZED (SELECT doc_id, lang, substr(s, CAST(g.i AS INT), 3) AS t " +
      s"FROM base, generate_series(1, ${langidMaxChars - 2}) g(i) WHERE g.i <= length(s) - 2), " +
      "tf AS MATERIALIZED (SELECT lang, t, count(*) AS c FROM tri GROUP BY lang, t), " +
      "nl AS MATERIALIZED (SELECT lang, count(*) AS n FROM tri GROUP BY lang), " +
      "vv AS MATERIALIZED (SELECT count(DISTINCT t) AS v FROM tri), " +
      "sc AS (SELECT d.doc_id AS doc_id, l.lang AS lang, " +
      r6("sum(ln(CAST(coalesce(f.c, 0) + 1 AS DOUBLE) / CAST(l.n + w.v AS DOUBLE)))") + " AS score " +
      "FROM tri d CROSS JOIN nl l CROSS JOIN vv w " +
      "LEFT JOIN tf f ON f.lang = l.lang AND f.t = d.t GROUP BY d.doc_id, l.lang), " +
      "r AS (SELECT doc_id, lang, score, row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, lang ASC) AS rn FROM sc) " +
      "SELECT d.doc_id AS doc_id, coalesce(r.lang, 'unk') AS lang_pred, coalesce(r.score, 0.0) AS score " +
      "FROM documents d LEFT JOIN r ON r.doc_id = d.doc_id AND r.rn = 1"
  }

  /** The full Gopher quality rule set (Rae et al. 2021, Appendix A) —
    * word-count bounds, mean word length, symbol-to-word ratio,
    * bullet/ellipsis line fractions, alphabetic word fraction, stop-word
    * presence, and the conjunction `pass`. No shuffle: one count kernel
    * per document ([[gopherCounts]]), then the ratios as Column
    * arithmetic over the counts. Every ratio is round6'd and the flags
    * compare on the ROUNDED values (artifact_mask precedent — a
    * threshold can never straddle an engine ulp).
    */
  val gopherStops = Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** The counts the Gopher rules read, from one pass over each document:
    * (doc_id, n_words, sum_len, n_alpha, n_lines, n_bullet, n_ellip,
    * n_sym, n_stopwords). Words are the non-empty tokens of
    * `split(text, ' ')` and lines the pieces of `split(text, '\n')`
    * (Java's split with limit −1, as Spark's); lengths count code points
    * (Spark's `length`); `n_alpha` counts words holding an ASCII letter;
    * a bullet line starts with `-`, `*` or `•`, an ellipsis line ends in
    * `...` or `…`; `n_sym` counts `#` and `…`; `n_stopwords` counts the
    * [[gopherStops]] that occur as a word. As the higher-order-function
    * form did, a null text has null counts and 0 stop words.
    */
  private def gopherCounts(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .map { case (id, text) =>
        if (text == null) (id, None, None, None, None, None, None, None, 0L)
        else {
          val words = text.split(" ", -1).filter(_.nonEmpty)
          val lines = text.split("\n", -1)
          val nSym = text.count(c => c == '#' || c == '\u2026')
          (
            id,
            Some(words.length.toLong),
            Some(words.map(w => w.codePointCount(0, w.length).toLong).sum),
            Some(words.count(_.exists(c => (c >= 'A' && c <= 'Z') || (c >= 'a' && c <= 'z'))).toLong),
            Some(lines.length.toLong),
            Some(lines.count(l => l.startsWith("-") || l.startsWith("*") || l.startsWith("\u2022")).toLong),
            Some(lines.count(l => l.endsWith("...") || l.endsWith("\u2026")).toLong),
            Some(nSym.toLong),
            gopherStops.count(words.contains).toLong
          )
        }
      }
      .toDF("doc_id", "n_words", "sum_len", "n_alpha", "n_lines", "n_bullet", "n_ellip", "n_sym", "n_stopwords")
  }

  def gopher(docs: DataFrame): DataFrame = {
    val r6 = graft.core.Dsp.round6 _
    val safe = (num: String, den: String) =>
      r6(when(col(den) > 0, col(num).cast("double") / col(den).cast("double")).otherwise(lit(0.0)))
    gopherCounts(docs)
      .select(
        col("doc_id"),
        col("n_words"),
        safe("sum_len", "n_words").as("mean_word_len"),
        safe("n_sym", "n_words").as("symbol_ratio"),
        safe("n_alpha", "n_words").as("alpha_frac"),
        safe("n_bullet", "n_lines").as("bullet_frac"),
        safe("n_ellip", "n_lines").as("ellipsis_frac"),
        col("n_stopwords")
      )
      .withColumn(
        "pass",
        col("n_words") >= 50 && col("n_words") <= 100000 &&
          col("mean_word_len") >= 3.0 && col("mean_word_len") <= 10.0 &&
          col("symbol_ratio") <= 0.1 &&
          col("alpha_frac") >= 0.8 &&
          col("bullet_frac") <= 0.9 &&
          col("ellipsis_frac") <= 0.3 &&
          col("n_stopwords") >= 2
      )
  }

  val gopherSql: String = gopherSqlFrom("documents")

  def gopherSqlFrom(table: String): String = {
    val r6 = (e: String) => graft.core.Dsp.round6Sql(e)
    val NL = "chr(10)"
    val toks = "list_filter(string_split(text, ' '), t -> t <> '')"
    val stops = gopherStops
      .map(s => s"CASE WHEN list_contains($toks, '$s') THEN 1 ELSE 0 END")
      .mkString(" + ")
    def safe(num: String, den: String) =
      r6(s"CASE WHEN $den > 0 THEN CAST($num AS DOUBLE) / CAST($den AS DOUBLE) ELSE 0.0 END")
    "WITH b AS (SELECT doc_id, " +
      s"CAST(len($toks) AS BIGINT) AS n_words, " +
      s"CAST(coalesce(list_sum(list_transform($toks, t -> length(t))), 0) AS BIGINT) AS sum_len, " +
      s"CAST(len(list_filter($toks, t -> regexp_matches(t, '[A-Za-z]'))) AS BIGINT) AS n_alpha, " +
      s"CAST(len(string_split(text, $NL)) AS BIGINT) AS n_lines, " +
      s"CAST(len(list_filter(string_split(text, $NL), l -> l LIKE '-%' OR l LIKE '*%' OR l LIKE '•%')) AS BIGINT) AS n_bullet, " +
      s"CAST(len(list_filter(string_split(text, $NL), l -> l LIKE '%...' OR l LIKE '%…')) AS BIGINT) AS n_ellip, " +
      "CAST((length(text) - length(replace(text, '#', ''))) + (length(text) - length(replace(text, '…', ''))) AS BIGINT) AS n_sym, " +
      s"CAST($stops AS BIGINT) AS n_stopwords FROM $table), " +
      "r AS (SELECT doc_id, n_words, " +
      safe("sum_len", "n_words") + " AS mean_word_len, " +
      safe("n_sym", "n_words") + " AS symbol_ratio, " +
      safe("n_alpha", "n_words") + " AS alpha_frac, " +
      safe("n_bullet", "n_lines") + " AS bullet_frac, " +
      safe("n_ellip", "n_lines") + " AS ellipsis_frac, " +
      "n_stopwords FROM b) " +
      "SELECT doc_id, n_words, mean_word_len, symbol_ratio, alpha_frac, bullet_frac, ellipsis_frac, n_stopwords, " +
      "(n_words >= 50 AND n_words <= 100000 AND mean_word_len >= 3.0 AND mean_word_len <= 10.0 " +
      "AND symbol_ratio <= 0.1 AND alpha_frac >= 0.8 AND bullet_frac <= 0.9 AND ellipsis_frac <= 0.3 " +
      "AND n_stopwords >= 2) AS pass FROM r"
  }

  /** PII redaction (emails / NANP phones / IPv4) — the scrub pass a
    * public-web corpus runs before training. Patterns avoid backslash
    * escapes entirely, so ONE pattern string parses identically under
    * Java regex (Spark) and RE2 (DuckDB). Wholly row-local: counts +
    * sequential replace in a single projection, no shuffle. The test
    * corpus is synthetic and PII-free, so the gate query PLANTS
    * deterministic PII derived from doc_id (the mm_* generator
    * precedent) and scrubs it; the oracle replays plant and scrub.
    */
  val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z][A-Za-z]+"
  val phoneRe = "[0-9]{3}-[0-9]{3}-[0-9]{4}"
  val ipRe = "[0-9]+[.][0-9]+[.][0-9]+[.][0-9]+"

  /** (doc_id, n_emails, n_phones, n_ips, redacted) over a (doc_id, text) input. */
  def piiScrub(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      size(regexp_extract_all(col("text"), lit(emailRe), lit(0))).cast("long").as("n_emails"),
      size(regexp_extract_all(col("text"), lit(phoneRe), lit(0))).cast("long").as("n_phones"),
      size(regexp_extract_all(col("text"), lit(ipRe), lit(0))).cast("long").as("n_ips"),
      regexp_replace(
        regexp_replace(
          regexp_replace(col("text"), lit(emailRe), lit("<EMAIL>")),
          lit(phoneRe),
          lit("<PHONE>")
        ),
        lit(ipRe),
        lit("<IP>")
      ).as("redacted")
    )

  /** Deterministic PII planting: identical expression text on both
    * engines (DuckDB accepts STRING as a VARCHAR alias). */
  private val piiPlant: String =
    "concat(text, " +
      "CASE WHEN doc_id % 3 = 0 THEN concat(' contact user', CAST(doc_id AS STRING), '@mail.example.com now') ELSE '' END, " +
      "CASE WHEN doc_id % 5 = 0 THEN concat(' call ', CAST(doc_id % 900 + 100 AS STRING), '-555-', lpad(CAST(doc_id % 10000 AS STRING), 4, '0'), ' soon') ELSE '' END, " +
      "CASE WHEN doc_id % 7 = 0 THEN concat(' host 10.', CAST(doc_id % 256 AS STRING), '.0.', CAST(doc_id % 100 AS STRING), ' up') ELSE '' END)"

  def pii(docs: DataFrame): DataFrame =
    piiScrub(docs.select(col("doc_id"), expr(piiPlant).as("text")))
      .select(
        col("doc_id"),
        col("n_emails"),
        col("n_phones"),
        col("n_ips"),
        md5(col("redacted")).as("md5_clean")
      )

  val piiSql: String = {
    def rep(s: String, re: String, r: String) = s"regexp_replace($s, '$re', '$r', 'g')"
    val red = rep(rep(rep("text", emailRe, "<EMAIL>"), phoneRe, "<PHONE>"), ipRe, "<IP>")
    s"WITH aug AS (SELECT doc_id, $piiPlant AS text FROM documents) " +
      "SELECT doc_id, " +
      s"CAST(len(regexp_extract_all(text, '$emailRe')) AS BIGINT) AS n_emails, " +
      s"CAST(len(regexp_extract_all(text, '$phoneRe')) AS BIGINT) AS n_phones, " +
      s"CAST(len(regexp_extract_all(text, '$ipRe')) AS BIGINT) AS n_ips, " +
      s"md5($red) AS md5_clean FROM aug"
  }

  /** Feature-hashing document embeddings (the hashing trick,
    * Weinberger et al. 2009): each token lands in one of `dim` signed
    * buckets (bucket + sign both from the token's md5), per-doc bucket
    * sums are l2-normalized — a vocabulary-free sparse embedding whose
    * cosine equals signed bag-of-words cosine in expectation. Closes
    * the text → embedding → ANN loop natively: the output feeds the
    * sim_* family without an external model.
    *
    * Scale shape: one data-sized (doc, bucket) aggregation (map-side
    * combine shrinks the token stream to ≤ dim rows per doc before the
    * shuffle), then a per-doc window for the norm over ≤ dim rows.
    * Output is long-form (doc_id, bucket, weight) — the driver-safe
    * scalar layout and the natural sparse-vector form.
    */
  /** The UN-normalized integer bucket sums under [[hashEmbed]] —
    * (doc_id, bucket, s) with s = signed token count, exact BIGINTs on
    * both engines. Exposed separately because every downstream geometric
    * predicate that is scale-invariant (hyperplane sign bits, cosine)
    * should run on these exact integers: the l2 normalization only
    * divides by a positive scalar, so signs and cosines are unchanged,
    * and the cross-engine float-sum-order hazard disappears.
    */
  def hashEmbedSums(docs: DataFrame, dim: Int = 64): DataFrame =
    tokens(docs)
      .select(
        col("doc_id"),
        (conv(substring(md5(col("tok")), 1, 8), 16, 10).cast("long") % dim).as("bucket"),
        (conv(substring(md5(col("tok")), 9, 1), 16, 10).cast("long") % 2 * 2 - 1).as("sign")
      )
      .groupBy(col("doc_id"), col("bucket"))
      .agg(sum(col("sign")).as("s"))
      .filter(col("s") =!= 0)

  /** CTE chain ending in `sums(doc_id, bucket, s)` — the oracle twin of
    * [[hashEmbedSums]].
    */
  def hashEmbedSumsCtes(dim: Int = 64): String =
    s"$tokensSql, h AS (SELECT doc_id, " +
      s"CAST(concat('0x', substr(md5(tok), 1, 8)) AS BIGINT) % $dim AS bucket, " +
      "CAST(concat('0x', substr(md5(tok), 9, 1)) AS BIGINT) % 2 * 2 - 1 AS sign FROM tokens), " +
      "sums AS MATERIALIZED (SELECT doc_id, bucket, CAST(sum(sign) AS BIGINT) AS s FROM h " +
      "GROUP BY doc_id, bucket HAVING sum(sign) <> 0)"

  def hashEmbed(docs: DataFrame, dim: Int = 64): DataFrame = {
    val sums = hashEmbedSums(docs, dim)
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("doc_id"))
    sums.select(
      col("doc_id"),
      col("bucket"),
      graft.core.Dsp
        .round6(
          col("s").cast("double") / sqrt(sum(col("s") * col("s")).over(w).cast("double"))
        )
        .as("weight")
    )
  }

  /** CTE chain ending in `we(doc_id, bucket, weight)` — the oracle twin
    * of [[hashEmbed]]'s normalized output.
    */
  def hashEmbedCtes(dim: Int = 64): String =
    s"${hashEmbedSumsCtes(dim)}, " +
      "we AS MATERIALIZED (SELECT doc_id, bucket, " +
      graft.core.Dsp.round6Sql(
        "CAST(s AS DOUBLE) / sqrt(CAST(sum(s * s) OVER (PARTITION BY doc_id) AS DOUBLE))"
      ) + " AS weight FROM sums)"

  def hashEmbedSql(dim: Int = 64): String =
    s"WITH ${hashEmbedCtes(dim)} SELECT doc_id, bucket, weight FROM we"

  /** Unicode-SCRIPT histogram — the cheap, robust pre-router a
    * multilingual pipeline runs BEFORE any model-based language ID
    * (script is deterministic where langid is statistical: a Cyrillic
    * page can't be English no matter what a trigram model says;
    * fasttext-based stacks do exactly this screen first). Per doc:
    * code-point counts per script class (Latin letters, digits,
    * Cyrillic, CJK unified, Greek) + the dominant NON-Latin script
    * ('none' when pure ASCII). All-BIGINT output — no float parity
    * surface at all. Row-local projection off the scan, no shuffle.
    *
    * The corpus is ASCII, so the gate PLANTS script segments
    * (urlPlant precedent): doc_id % 8 ∈ {3, 5, 7} appends a Cyrillic /
    * CJK / Greek tail respectively.
    */
  val scriptPlant: String =
    "CASE WHEN doc_id % 8 = 3 THEN concat(text, ' привет мир слов') " +
      "WHEN doc_id % 8 = 5 THEN concat(text, ' 你好世界汉字') " +
      "WHEN doc_id % 8 = 7 THEN concat(text, ' αλφα βητα') " +
      "ELSE text END"

  private val scriptClasses = Seq(
    "n_latin" -> "A-Za-z",
    "n_digit" -> "0-9",
    "n_cyrillic" -> "\\x{0400}-\\x{04FF}",
    "n_cjk" -> "\\x{4E00}-\\x{9FFF}",
    "n_greek" -> "\\x{0370}-\\x{03FF}"
  )

  private val dominantNonLatin: String =
    "CASE WHEN n_cyrillic = 0 AND n_cjk = 0 AND n_greek = 0 THEN 'none' " +
      "WHEN n_cyrillic >= n_cjk AND n_cyrillic >= n_greek THEN 'cyrillic' " +
      "WHEN n_cjk >= n_greek THEN 'cjk' ELSE 'greek' END"

  def textScripts(docs: DataFrame): DataFrame = {
    val counted = docs
      .select(col("doc_id"), expr(scriptPlant).as("t2"))
      .select(
        Seq(col("doc_id"), length(col("t2")).cast("long").as("n_chars")) ++
          scriptClasses.map { case (name, cls) =>
            length(regexp_replace(col("t2"), s"[^$cls]", "")).cast("long").as(name)
          }: _*
      )
    counted.withColumn("script", expr(dominantNonLatin))
  }

  def textScriptsSql: String =
    s"WITH t AS (SELECT doc_id, $scriptPlant AS t2 FROM documents), " +
      "c AS (SELECT doc_id, CAST(length(t2) AS BIGINT) AS n_chars, " +
      scriptClasses
        .map { case (name, cls) =>
          s"CAST(length(regexp_replace(t2, '[^$cls]', '', 'g')) AS BIGINT) AS $name"
        }
        .mkString(", ") +
      s" FROM t) SELECT doc_id, n_chars, ${scriptClasses.map(_._1).mkString(", ")}, " +
      s"$dominantNonLatin AS script FROM c"

  /** Flesch readability metrics — the classic text-quality features
    * (reading-ease + FK grade level) every document-quality feature
    * set carries alongside the Gopher ratios. Syllables ≈ vowel-group
    * count (the standard regex proxy), sentences = ceil(words/8) (the
    * corpus has no sentence punctuation, so the 8-token line plant
    * convention stands in — at production the splitter is a real
    * sentence regex, same plan shape). Both scores evaluate as ONE
    * shared closed-form expression string (the filter_response
    * precedent: identical parse in Spark SQL and DuckDB, parity
    * reduces to libm last-ulp noise under round6); the integer counts
    * carry the evidence. Row-local projection, no shuffle.
    */
  private def fleschExprs: (String, String) = {
    val ws = "(CAST(n_w AS DOUBLE) / CAST(n_s AS DOUBLE))"
    val sw = "(CAST(n_syl AS DOUBLE) / CAST(n_w AS DOUBLE))"
    (
      s"(206.835e0 - 1.015e0 * $ws - 84.6e0 * $sw)",
      s"(0.39e0 * $ws + 11.8e0 * $sw - 15.59e0)"
    )
  }

  def textReadability(docs: DataFrame): DataFrame = {
    val (ease, grade) = fleschExprs
    docs
      .select(
        col("doc_id"),
        size(filter(split(col("text"), " "), t => t =!= "")).cast("long").as("n_w"),
        // group 0 = whole match (DuckDB's default — Spark defaults to 1)
        size(regexp_extract_all(col("text"), lit("[aeiou]+"), lit(0))).cast("long").as("n_syl")
      )
      .withColumn("n_s", expr("(n_w + 7) div 8"))
      .filter(col("n_w") > 0L)
      .select(
        col("doc_id"),
        col("n_w"),
        col("n_syl"),
        col("n_s"),
        graft.core.Dsp.round6(expr(ease)).as("flesch_ease"),
        graft.core.Dsp.round6(expr(grade)).as("fk_grade")
      )
  }

  def textReadabilitySql: String = {
    val (ease, grade) = fleschExprs
    "WITH c AS (SELECT doc_id, " +
      "CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT) AS n_w, " +
      "CAST(len(regexp_extract_all(text, '[aeiou]+')) AS BIGINT) AS n_syl FROM documents), " +
      "s AS (SELECT doc_id, n_w, n_syl, CAST((n_w + 7) // 8 AS BIGINT) AS n_s FROM c WHERE n_w > 0) " +
      s"SELECT doc_id, n_w, n_syl, n_s, ${graft.core.Dsp.round6Sql(ease)} AS flesch_ease, " +
      s"${graft.core.Dsp.round6Sql(grade)} AS fk_grade FROM s"
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "text_readability" -> { (s, dir) => textReadability(Tables.documents(s, dir)) },
    "text_rake" -> { (s, dir) => textRake(Tables.documents(s, dir)) },
    "text_inv_index" -> { (s, dir) => invertedIndex(Tables.documents(s, dir)) },
    "text_pmi" -> { (s, dir) => textPmi(Tables.documents(s, dir)) },
    "text_bigram_kn" -> { (s, dir) => bigramKn(Tables.documents(s, dir)) },
    "text_scripts" -> { (s, dir) => textScripts(Tables.documents(s, dir)) },
    "text_hash_embed" -> { (s, dir) => hashEmbed(Tables.documents(s, dir)) },
    "text_pii" -> { (s, dir) => pii(Tables.documents(s, dir)) },
    "sample_ccnet" -> { (s, dir) => ccnet(Tables.documents(s, dir)) },
    "text_repetition_full" -> { (s, dir) => repetitionFull(Tables.documents(s, dir)) },
    "text_gopher" -> { (s, dir) => gopher(Tables.documents(s, dir)) },
    "text_langid_ngram" -> { (s, dir) => langidNgram(Tables.documents(s, dir)) },
    "text_unigram_lp" -> { (s, dir) => unigramLogProb(Tables.documents(s, dir)) },
    "text_bigram_lp" -> { (s, dir) => bigramLogProb(Tables.documents(s, dir)) },
    "text_bm25" -> { (s, dir) => bm25(Tables.documents(s, dir)) },
    "text_repetition" -> { (s, dir) => repetition(Tables.documents(s, dir)) },
    "text_chunks" -> { (s, dir) => chunks(Tables.documents(s, dir)) },
    "text_chunks_cdc" -> { (s, dir) => chunksCdc(Tables.documents(s, dir)) },
    "text_chunks_gear" -> { (s, dir) => chunksGear(Tables.documents(s, dir)) },
    "text_winnow" -> { (s, dir) => winnow(Tables.documents(s, dir)) },
    "winnow_overlap" -> { (s, dir) => winnowOverlap(Tables.documents(s, dir)) },
    "winnow_topk" -> { (s, dir) => winnowTopk(Tables.documents(s, dir)) },
    "text_pack" -> { (s, dir) => pack(Tables.documents(s, dir)) },
    "text_tokens" -> { (s, dir) =>
      Tables
        .documents(s, dir)
        .select(
          col("doc_id"),
          length(col("text")).as("n_chars"),
          size(split(col("text"), " ")).as("n_ws"),
          size(regexp_extract_all(col("text"), lit("[a-z]+"), lit(0))).as("n_alpha")
        )
    },
    "text_langid" -> { (s, dir) =>
      tokens(Tables.documents(s, dir))
        .groupBy(col("doc_id"))
        .agg(
          count(lit(1)).as("n_tok"),
          sum(when(col("tok").isin(stopwords: _*), 1L).otherwise(0L)).as("n_stop")
        )
        .select(
          col("doc_id"),
          col("n_tok"),
          col("n_stop"),
          round(col("n_stop") / col("n_tok"), 6).as("stop_ratio"),
          when(col("n_stop") / col("n_tok") > 0.04, "en").otherwise("unk").as("lang_pred")
        )
    },
    "text_quality" -> { (s, dir) =>
      val nTok = size(split(col("text"), " ")).cast("double")
      val nChars = length(col("text")).cast("double")
      val nDigit = length(regexp_replace(col("text"), "[^0-9]", "")).cast("double")
      val nPunct = length(regexp_replace(col("text"), "[a-z0-9 ]", "")).cast("double")
      val awl = (nChars - (nTok - 1)) / nTok
      val score = greatest(
        lit(0.0),
        least(lit(1.0), lit(0.5) + lit(0.1) * (awl - 4.0) - nDigit / nChars - nPunct / nChars)
      )
      Tables
        .documents(s, dir)
        .select(
          col("doc_id"),
          graft.core.Dsp.round6(awl).as("avg_word_len"),
          graft.core.Dsp.round6(nDigit / nChars).as("digit_ratio"),
          graft.core.Dsp.round6(nPunct / nChars).as("punct_ratio"),
          graft.core.Dsp.round6(score).as("quality")
        )
    },
    "text_fingerprint" -> { (s, dir) =>
      shingles(Tables.documents(s, dir))
        .groupBy(col("doc_id"))
        .agg(min(md5(col("sh"))).as("fp"), count(lit(1)).as("n_shingles"))
    }
  )

  def oracleSql: Map[String, String] = Map(
    "text_readability" -> textReadabilitySql,
    "text_rake" -> textRakeSql,
    "text_inv_index" -> invertedIndexSql,
    "text_pmi" -> textPmiSql(),
    "text_bigram_kn" -> bigramKnSql,
    "text_scripts" -> textScriptsSql,
    "text_hash_embed" -> hashEmbedSql(),
    "text_pii" -> piiSql,
    "sample_ccnet" -> ccnetSql,
    "text_repetition_full" -> repetitionFullSql,
    "text_gopher" -> gopherSql,
    "text_langid_ngram" -> langidNgramSql,
    "text_bm25" -> bm25Sql(),
    "text_unigram_lp" -> unigramLogProbSql,
    "text_bigram_lp" -> bigramLogProbSql,
    "text_repetition" -> repetitionSql,
    "text_chunks" -> chunksSql(),
    "text_chunks_cdc" -> chunksCdcSql,
    "text_chunks_gear" -> chunksGearSql,
    "text_winnow" -> winnowSql(),
    "winnow_overlap" -> winnowOverlapSql,
    "winnow_topk" -> winnowTopkSql(),
    "text_pack" -> packSql(),
    "text_tokens" ->
      ("SELECT doc_id, length(text) AS n_chars, len(string_split(text, ' ')) AS n_ws, " +
        "len(regexp_extract_all(text, '[a-z]+')) AS n_alpha FROM documents"),
    // CAST the integer sum to BIGINT: DuckDB sum(int) yields HUGEINT,
    // which pandas renders as float64 ("7.0" vs "7" → hash mismatch).
    "text_langid" ->
      (s"WITH $tokensSql, agg AS (SELECT doc_id, count(*) AS n_tok, " +
        s"CAST(sum(CASE WHEN tok IN $stopInSql THEN 1 ELSE 0 END) AS BIGINT) AS n_stop FROM tokens GROUP BY doc_id) " +
        "SELECT doc_id, n_tok, n_stop, round(n_stop / n_tok, 6) AS stop_ratio, " +
        "CASE WHEN n_stop / n_tok > 0.04e0 THEN 'en' ELSE 'unk' END AS lang_pred FROM agg"),
    "text_quality" ->
      ("WITH base AS (SELECT doc_id, CAST(length(text) AS DOUBLE) AS n_chars, " +
        "CAST(len(string_split(text, ' ')) AS DOUBLE) AS n_tok, " +
        "CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE) AS n_digit, " +
        "CAST(length(regexp_replace(text, '[a-z0-9 ]', '', 'g')) AS DOUBLE) AS n_punct FROM documents) " +
        s"SELECT doc_id, ${graft.core.Dsp.round6Sql("(n_chars - (n_tok - 1)) / n_tok")} AS avg_word_len, " +
        s"${graft.core.Dsp.round6Sql("n_digit / n_chars")} AS digit_ratio, ${graft.core.Dsp.round6Sql("n_punct / n_chars")} AS punct_ratio, " +
        s"${graft.core.Dsp.round6Sql("greatest(0.0e0, least(1.0e0, 0.5e0 + 0.1e0 * ((n_chars - (n_tok - 1)) / n_tok - 4.0e0) " +
        "- n_digit / n_chars - n_punct / n_chars))")} AS quality FROM base"),
    "text_fingerprint" ->
      (s"WITH $shinglesSql " +
        "SELECT doc_id, min(md5(sh)) AS fp, count(*) AS n_shingles FROM shingles GROUP BY doc_id")
  )
}
