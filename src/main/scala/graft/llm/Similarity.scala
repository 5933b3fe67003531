package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Dsp, Rounds, Tables}

/** Similarity search over the embedding column (`embeddings.embedding`,
  * 64-dim float vectors).
  *
  * - `sim_topk`: brute-force cosine top-k of a query subset against the
  *   corpus — the correctness baseline. Dot products run as the native
  *   `DotD`/`DotLit`/`SqDistD` expressions (a tight primitive loop per
  *   row; Spark's higher-order zip_with/aggregate are CodegenFallback
  *   with per-element lambda interpretation); ranking is one window
  *   over the query key.
  * - `sim_lsh`: random-hyperplane LSH bucketing (sign of dot with
  *   deterministic hyperplanes) — the scale path bounding candidates per
  *   query; same cosine on candidates only.
  *
  * At 100 TB the brute-force path is a broadcast of the (small) query
  * set against a partitioned corpus — no shuffle on the corpus side;
  * the LSH path turns it into an equi-join on bucket signatures.
  *
  * The flat-index ANN family is one core (FAISS's index-factory
  * decomposition: coarse quantizer × coder × refine): cell ranking →
  * router → scorer → optional exact refine of a shortlist →
  * `rankTopK`. Each entry point is a configuration of it:
  *
  * | entry point        | router                         | scorer           | refine              |
  * |--------------------|--------------------------------|------------------|---------------------|
  * | `topk`             | brute                          | exact cosine     | —                   |
  * | `ivfTopk`          | IVF cells                      | exact cosine     | —                   |
  * | `filteredTopk`     | IVF cells, label-filtered corpus | exact cosine   | —                   |
  * | `sq8Topk`          | brute                          | SQ8 approx       | exact cosine        |
  * | `sq8TopkIvf`       | IVF cells                      | SQ8 approx       | exact cosine        |
  * | `pqTopk`           | brute                          | PQ               | —                   |
  * | `ivfPqTopk`        | IVF cells                      | IVF-PQ residual  | —                   |
  * | `ivfPqTrainedGate` | IVF cells                      | IVF-PQ (q6 Lloyd codebooks) | exact cosine |
  * | `ivfPqTopkTrained` | IVF cells (trained, unit vectors) | IVF-PQ (Lloyd codebooks) | unit dot |
  * | `ivfServeTopk`     | pruned raw cell store          | exact cosine     | —                   |
  * | `ivfLayoutTopk`    | pruned raw cell store, query 0 | exact cosine     | —                   |
  * | `ivfPqServeTopk`   | pruned packed-code cell store  | IVF-PQ residual  | —                   |
  *
  * The graph walks (`graphServe*`) reuse the exact and SQ8 scorers.
  */
object Similarity {

  private val topK = 5
  private val nQueries = 10 // vec_id < 10 are the query vectors

  private def vecsD(df: DataFrame): DataFrame =
    df.select(
      col("vec_id"),
      transform(col("embedding"), x => x.cast("double")).as("v"),
      col("label")
    )

  /** Vectors plus a precomputed L2 norm — computed ONCE per vector
    * before any join, so the per-candidate work in the scoring joins is
    * a single dot product instead of three array aggregates (the 3×
    * FLOP waste VERDICT r2 flagged). Bit-identical to inlining: the
    * oracle's sqrt(Σv²) runs the same accumulation order.
    */
  private def vecsN(df: DataFrame): DataFrame =
    vecsD(df).withColumn("nrm", sqrt(graft.functions.exprs.dot_d(col("v"), col("v"))))

  /** cosine(a, b) from precomputed norms na/nb; dot accumulates
    * sequentially left-to-right like the oracle.
    */
  private def cosExpr: org.apache.spark.sql.Column =
    graft.functions.exprs.dot_d(col("va"), col("vb")) / (col("na") * col("nb"))

  // ---- DuckDB oracle fragments: the 64-term left-associated dot
  // product and squared distance every vector oracle is built from ----

  private def dotSql(a: String, b: String): String =
    s"list_sum(list_transform(generate_series(1, 64), i -> list_extract($a, i) * list_extract($b, i)))"

  private def d2Sql(a: String, b: String, n: Int = 64): String =
    s"list_sum(list_transform(generate_series(1, $n), i -> " +
      s"(list_extract($a, i) - list_extract($b, i)) * (list_extract($a, i) - list_extract($b, i))))"

  private def cosSql(a: String, b: String): String =
    s"${dotSql(a, b)} / (sqrt(${dotSql(a, a)}) * sqrt(${dotSql(b, b)}))"

  private val cosSqlExpr: String = cosSql("va", "vb")

  /** The SQ8 coder in DuckDB: the max-abs scale and the BIGINT codes. */
  private val sq8ScaleSql = "greatest(list_max(list_transform(v, x -> abs(x))), 1.0e-30)"
  private val sq8CodeSql = "list_transform(v, x -> CAST(floor(x / m * 127.0e0 + 0.5e0) AS BIGINT))"

  /** The IVF oracle CTE prefix `vs, cents, dists, rankedc, assign, `:
    * deterministic first-`nList` cells, argmin with the cid tie-break.
    * `mat` names the CTEs rendered AS MATERIALIZED; `label` keeps the
    * label column in vs.
    */
  private def ivfCtesSql(nList: Int, mat: Set[String] = Set.empty, label: Boolean = false): String = {
    def cte(name: String) = if (mat(name)) s"$name AS MATERIALIZED" else s"$name AS"
    s"${cte("vs")} (SELECT vec_id, ${if (label) "label, " else ""}" +
      "list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings), " +
      s"${cte("cents")} (SELECT vec_id AS cid, v AS cv FROM vs WHERE vec_id < $nList), " +
      s"${cte("dists")} (SELECT a.vec_id AS pid, c.cid AS cid, ${d2Sql("a.v", "c.cv")} AS d2 FROM vs a CROSS JOIN cents c), " +
      s"${cte("rankedc")} (SELECT pid, cid, row_number() OVER (PARTITION BY pid ORDER BY d2 ASC, cid ASC) AS cr FROM dists), " +
      s"${cte("assign")} (SELECT pid AS vid, cid FROM rankedc WHERE cr = 1), "
  }

  /** The `qcells` CTE: the `nProbe` nearest cells of each query row. */
  private def qcellsSql(nProbe: Int, queries: String = s"pid < $nQueries"): String =
    s"qcells AS (SELECT pid AS qid, cid FROM rankedc WHERE cr <= $nProbe AND $queries), "

  /** The final per-query rank over CTE `src`, projecting `out`. */
  private def rankSql(src: String, metric: String, dir: String, out: String = ""): String =
    s"ranked AS (SELECT qid, vid, $metric, row_number() OVER (PARTITION BY qid ORDER BY $metric $dir, vid ASC) " +
      s"AS rank FROM $src) SELECT ${if (out.isEmpty) s"qid, vid, $metric, rank" else out} FROM ranked WHERE rank <= $topK"

  // ---- The flat-index ANN core. Every flat top-k / serve entry point
  // (table in the object doc) is cell ranking → router → scorer →
  // optional exact refine → rankTopK. Wide payloads never ride a sort:
  // the cell ranking and every rank read narrow (id, key, metric)
  // frames, and the vectors join back after the prune ----

  /** Centroid frame (cid, cv): trained centroids, or the first `nList`
    * vectors of `vs` (the deterministic, oracle-replayable cells).
    */
  private def centroidFrame(vs: DataFrame, nList: Int, centroids: Option[Array[Array[Double]]]): DataFrame =
    centroids match {
      case Some(cs) =>
        val spark = vs.sparkSession
        import spark.implicits._
        cs.zipWithIndex.map { case (c, i) => (i.toLong, c.toSeq) }.toSeq.toDF("cid", "cv")
      case None => vs.filter(col("vec_id") < nList).select(col("vec_id").as("cid"), col("v").as("cv"))
    }

  /** (vec_id, cid, d2) from every point of `points` (vec_id, v) to every
    * broadcast centroid: the narrow frame the cell ranking reads.
    */
  private def cellDists(points: DataFrame, cents: DataFrame): DataFrame =
    points
      .join(broadcast(cents))
      .select(col("vec_id"), col("cid"), graft.functions.exprs.sq_dist(col("v"), col("cv")).as("d2"))

  /** The cell ranking: each vec_id's `n` nearest cells under the total
    * order (d2 asc, cid asc). n = 1 (corpus assignment) is a map-side
    * combinable `min_by`, no sort; n > 1 (query probes) is a per-id
    * rank. Emits (vec_id, cid).
    */
  private def nearestCells(d: DataFrame, n: Int): DataFrame =
    if (n == 1) d.groupBy(col("vec_id")).agg(min_by(col("cid"), struct(col("d2"), col("cid"))).as("cid"))
    else {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("vec_id"))
        .orderBy(col("d2").asc, col("cid").asc)
      d.withColumn("cr", row_number().over(w)).filter(col("cr") <= n).select(col("vec_id"), col("cid"))
    }

  /** Probed cells (qid, cid) of the `queries` rows of `vs` (vec_id, v). */
  private def probeCells(vs: DataFrame, cents: DataFrame, nProbe: Int, queries: Column): DataFrame =
    nearestCells(cellDists(vs.filter(queries), cents), nProbe).select(col("vec_id").as("qid"), col("cid"))

  /** A scorer: the query side `q` (qid, …; always broadcast), the corpus
    * side `c` (vid, …) and the `metric` one joined pair row yields;
    * `desc` when larger is nearer.
    */
  private final case class Scorer(q: DataFrame, c: DataFrame, metric: String, value: Column, desc: Boolean)

  /** Exact cosine round(dot/(na·nb), 6): the brute baseline, every
    * refine and the graph walks' exact score. `keep` filters the corpus
    * side (filtered search drops non-matching rows before any dot).
    */
  private def cosScorer(emb: DataFrame, nQ: Int = nQueries, keep: Column = lit(true)): Scorer = {
    val vs = vecsN(emb)
    Scorer(
      vs.filter(col("vec_id") < nQ).select(col("vec_id").as("qid"), col("v").as("va"), col("nrm").as("na")),
      vs.filter(keep).select(col("vec_id").as("vid"), col("v").as("vb"), col("nrm").as("nb")),
      "cos",
      round(cosExpr, 6),
      desc = true
    )
  }

  /** The SQ8 coder: m = max|v_i| (floored at 1e-30) and the codes
    * q_i = round-half-up(v_i/m·127) cast to `t`, added to `vecs` (…, v).
    */
  private def sq8Code(vecs: DataFrame, t: String): DataFrame =
    vecs
      .withColumn("m", expr("greatest(array_max(transform(v, x -> abs(x))), 1.0e-30)"))
      .withColumn("q", expr(s"transform(v, x -> CAST(floor(x / m * 127.0e0 + 0.5e0) AS $t))"))

  /** (vec_id, nrm, m, q BIGINT): the coded frame the SQ8 scorer reads. */
  private def sq8Codes(emb: DataFrame): DataFrame =
    sq8Code(vecsN(emb), "BIGINT").select(col("vec_id"), col("nrm"), col("m"), col("q"))

  /** SQ8 approx cosine over `coded`: the exact BIGINT code dot × both
    * scales / 127² / both norms, 6 dp.
    */
  private def sq8Approx(coded: DataFrame, nQ: Int, metric: String): Scorer =
    Scorer(
      coded
        .filter(col("vec_id") < nQ)
        .select(col("vec_id").as("qid"), col("q").as("qa"), col("m").as("ma"), col("nrm").as("na")),
      coded.select(col("vec_id").as("vid"), col("q").as("qb"), col("m").as("mb"), col("nrm").as("nb")),
      metric,
      round(
        expr("aggregate(zip_with(qa, qb, (x, y) -> x * y), 0L, (acc, x) -> acc + x)")
          .cast("double") * col("ma") * col("mb") / lit(127.0 * 127.0) / (col("na") * col("nb")),
        6
      ),
      desc = true
    )

  /** PQ asymmetric distance round6(‖qr − vq‖²): the exact query (or its
    * residual `qr`) against the corpus reconstruction `vq` in `c`.
    */
  private def pqScorer(q: DataFrame, c: DataFrame, qr: Column): Scorer =
    Scorer(q, c, "ad2", graft.core.Dsp.round6(graft.functions.exprs.sq_dist(qr, col("vq"))), desc = false)

  /** round6(va·vb) over unit vectors (vec_id, v): the trained refine. */
  private def unitDotScorer(unit: DataFrame): Scorer =
    Scorer(
      unit.filter(col("vec_id") < nQueries).select(col("vec_id").as("qid"), col("v").as("va")),
      unit.select(col("vec_id").as("vid"), col("v").as("vb")),
      "cos",
      graft.core.Dsp.round6(graft.functions.exprs.dot_d(col("va"), col("vb"))),
      desc = true
    )

  private def score(s: Scorer, pairs: DataFrame, ride: Seq[String] = Nil): DataFrame =
    pairs.select(Seq(col("qid"), col("vid")) ++ ride.map(col) :+ s.value.as(s.metric): _*)

  /** Brute router: every query against every other corpus row. */
  private def bruteScore(s: Scorer): DataFrame =
    score(s, broadcast(s.q).join(s.c, col("qid") =!= col("vid")))

  /** Cell router: cell members (cid, vid, …) meet the broadcast probed
    * cells (qid, cid) on cid. A vector lives in one cell, so each
    * (qid, vid) pair surfaces once; a query never returns itself.
    */
  private def cellPairs(members: DataFrame, probes: DataFrame): DataFrame =
    members.join(broadcast(probes), Seq("cid")).filter(col("qid") =!= col("vid"))

  /** The probe table collected as a local cid → probing qids map: at
    * most nQ·nProbe entries, at any corpus size.
    */
  private def probeCellLiterals(probes: DataFrame): Map[Long, Seq[Long]] =
    probes.collect().toSeq.groupBy(_.getLong(1)).map { case (c, rs) => c -> rs.map(_.getLong(0)).sorted }

  /** Literal cell router, for members that already carry their payload
    * (a cell store, the checkpointed IVF-PQ index): each member row of a
    * probed cell explodes into the queries probing it — no join, no
    * broadcast, no shuffle below the query join (a probe window there
    * makes Spark inject a runtime bloom filter on the query scan: two
    * extra jobs per request).
    */
  private def probedPairs(members: DataFrame, probed: Map[Long, Seq[Long]]): DataFrame =
    members
      .filter(col("cid").isin(probed.keys.toSeq: _*))
      .withColumn("qid", explode(element_at(typedLit(probed), col("cid"))))
      .filter(col("qid") =!= col("vid"))

  /** Score routed pairs that already carry the corpus side. */
  private def scorePairs(s: Scorer, pairs: DataFrame): DataFrame =
    score(s, pairs.join(broadcast(s.q), Seq("qid")))

  /** Score routed (qid, vid, …) candidates: fetch the corpus side on vid
    * and the broadcast query side on qid; other columns ride along.
    */
  private def scoreCands(s: Scorer, cands: DataFrame): DataFrame =
    score(
      s,
      cands.join(s.c, Seq("vid")).join(broadcast(s.q), Seq("qid")),
      cands.columns.filterNot(Set("qid", "vid")).toSeq
    )

  /** The total order of every rank: the metric (nearest first), ties to
    * the lower vid.
    */
  private def nearestFirst(s: Scorer): Seq[Column] =
    Seq(if (s.desc) col(s.metric).desc else col(s.metric).asc, col("vid").asc)

  /** Each query's `k` nearest scored rows plus their 1-based rank. */
  private def rankTopK(scored: DataFrame, s: Scorer, k: Int = topK): DataFrame =
    scored
      .withColumn(
        "rank",
        row_number().over(org.apache.spark.sql.expressions.Window.partitionBy(col("qid")).orderBy(nearestFirst(s): _*))
      )
      .filter(col("rank") <= k)

  /** Exact refine (the FAISS IndexRefineFlat shape): the top `shortlist`
    * per query under `s`, its metric riding along, rescored by `exact`
    * and ranked. Only shortlist × queries rows touch raw vectors.
    */
  private def refineTopK(scored: DataFrame, s: Scorer, shortlist: Int, exact: Scorer): DataFrame =
    rankTopK(scoreCands(exact, rankTopK(scored, s, shortlist).drop("rank")), exact)

  def topk(emb: DataFrame): DataFrame = {
    val s = cosScorer(emb)
    rankTopK(bruteScore(s), s)
  }

  val topkSql: String =
    "WITH vs AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings), " +
      s"scored AS (SELECT q.vec_id AS qid, c.vec_id AS vid, round($cosSqlExpr, 6) AS cos FROM " +
      s"(SELECT vec_id, v AS va FROM vs WHERE vec_id < $nQueries) q(vec_id, va) " +
      "CROSS JOIN (SELECT vec_id, v AS vb FROM vs) c(vec_id, vb) WHERE q.vec_id <> c.vec_id), " +
      rankSql("scored", "cos", "DESC")

  /** Deterministic pseudo-random hyperplanes, generated driver-side and
    * embedded as literals in both engines. Seeded once: `planesN(8)` is
    * a prefix of `planesN(64)`.
    */
  def planesN(n: Int): Array[Array[Double]] = {
    val rnd = new scala.util.Random(42)
    Array.fill(n, 64)(rnd.nextGaussian())
  }

  /** 8-plane signature: the oracle instance (sim_buckets/dedup_embed
    * gate queries — small enough to replay as literal SQL).
    */
  lazy val planes: Array[Array[Double]] = planesN(8)

  /** 64-plane signature: the scale default for near-dup banding. */
  lazy val planes64: Array[Array[Double]] = planesN(64)

  /** LSH bucket signature per vector: sign bits of plane dot products,
    * packed into a BIGINT (≤ 64 planes). Candidates = same bucket.
    */
  def lshBuckets(emb: DataFrame, ps: Array[Array[Double]] = planes64): DataFrame = {
    require(ps.length <= 64, "at most 64 sign bits fit a BIGINT signature")
    val vs = vecsD(emb)
    val sig = ps.zipWithIndex
      .map { case (p, idx) =>
        val dot = graft.functions.exprs.dot_lit(col("v"), p)
        // disjoint bit positions: + is | here (idx 63 lands the sign bit)
        when(dot > 0, lit(1L << idx)).otherwise(0L)
      }
      .reduce(_ + _)
    vs.select(col("vec_id"), col("label"), sig.as("bucket"))
  }

  // ---- k-means|| centroid training (the real quantizer; the gate's
  // ivfTopk keeps deterministic first-nList centroids so the DuckDB
  // oracle can replay them) ----

  private def d2(v: Array[Double], c: Array[Double]): Double = {
    var d = 0.0; var j = 0
    while (j < v.length) { val t = v(j) - c(j); d += t * t; j += 1 }
    d
  }

  private def nearestIdx(v: Array[Double], cs: Array[Array[Double]]): Int = {
    var best = 0; var bd = Double.MaxValue; var i = 0
    while (i < cs.length) { val d = d2(v, cs(i)); if (d < bd) { bd = d; best = i }; i += 1 }
    best
  }

  private def minD2(v: Array[Double], cs: Array[Array[Double]]): Double =
    d2(v, cs(nearestIdx(v, cs)))

  /** Deterministic uniform in [0,1) from (id, salt) — splitmix64 mix, so
    * k-means|| sampling is reproducible without Random state.
    */
  private def hash01(id: Long, salt: Int): Double = {
    var h = id * 0x9E3779B97F4A7C15L + salt * 0xC2B2AE3D27D4EB4FL
    h ^= h >>> 33; h *= 0xFF51AFD7ED558CCDL; h ^= h >>> 33
    (h >>> 11).toDouble / (1L << 53).toDouble
  }

  /** k-means|| (Bahmani et al., VLDB 2012): `rounds` passes each sample
    * ~`oversample` candidates with probability ∝ distance² to the
    * current candidate set, candidates are weight-reduced driver-side
    * (greedy max-min seeding + weighted Lloyd on ≤ rounds·oversample
    * points — trivial), then `lloydIters` distributed Lloyd refinements
    * over the full corpus via groupByKey.reduceGroups (map-side partial
    * merge; only k×dim doubles ever reach the driver). Each pass over
    * the data is one scan + one tiny aggregate — the 100 TB-safe shape;
    * nothing is ever all-pairs.
    */
  def kmeansParallel(
      emb: DataFrame,
      k: Int = 16,
      rounds: Int = 5,
      oversample: Int = 64,
      lloydIters: Int = 5
  ): Array[Array[Double]] = {
    val spark = emb.sparkSession
    import spark.implicits._
    // spherical: cluster on unit vectors so Euclidean cells rank cells
    // by cosine (d² = 2 − 2·v̂·c is monotone in the dot product)
    // cached for the whole training run: every k-means|| round and every
    // Lloyd iteration re-scans this projection (2–3 scans per round of
    // the raw table otherwise — the ADVICE r3 re-scan waste)
    val ds = vecsN(emb)
      .select(col("vec_id"), transform(col("v"), x => x / col("nrm")).as("v"))
      .as[(Long, Seq[Double])]
      .map { case (id, v) => (id, v.toArray) }
      .persist()
    val sc = spark.sparkContext
    val cands = scala.collection.mutable.ArrayBuffer(ds.orderBy(col("_1")).head()._2)
    for (r <- 1 to rounds) {
      val bc = sc.broadcast(cands.toArray)
      // cached: the cost column feeds both the total and the sampling
      // pass — without it each round recomputes the distance map twice
      val withCost = ds.map { case (id, v) => (id, v, minD2(v, bc.value)) }.persist()
      val total = withCost.map(_._3).reduce(_ + _)
      if (total > 0) {
        val l = oversample.toDouble
        cands ++= withCost
          .filter(t => hash01(t._1, r) < l * t._3 / total)
          .map(_._2)
          .collect()
      }
      withCost.unpersist()
    }
    // weight each candidate by the corpus mass nearest to it
    val bcC = sc.broadcast(cands.toArray)
    val wts = ds
      .map { case (_, v) => (nearestIdx(v, bcC.value), 1L) }
      .groupByKey(_._1)
      .reduceGroups((a, b) => (a._1, a._2 + b._2))
      .map(_._2)
      .collect()
      .toMap
    val weighted = cands.toArray.zipWithIndex.map { case (c, i) => (c, wts.getOrElse(i, 0L).toDouble) }
    // driver-side: greedy max-min seeding then weighted Lloyd on candidates
    val dim = cands.head.length
    var centers = {
      val picked = scala.collection.mutable.ArrayBuffer(weighted.maxBy(_._2)._1)
      while (picked.length < math.min(k, weighted.length)) {
        picked += weighted.maxBy { case (c, w) => minD2(c, picked.toArray) * math.max(w, 1.0) }._1
      }
      while (picked.length < k) picked += picked.head // degenerate corpus
      picked.toArray
    }
    for (_ <- 1 to 10) {
      val sums = Array.fill(k)(new Array[Double](dim))
      val cnt = new Array[Double](k)
      weighted.foreach { case (c, w) =>
        val i = nearestIdx(c, centers)
        var j = 0; while (j < dim) { sums(i)(j) += c(j) * w; j += 1 }
        cnt(i) += w
      }
      centers = centers.zipWithIndex.map { case (old, i) =>
        if (cnt(i) > 0) sums(i).map(_ / cnt(i)) else old
      }
    }
    // distributed Lloyd refinement over the full corpus
    for (_ <- 1 to lloydIters) {
      val bc = sc.broadcast(centers)
      val agg = ds
        .map { case (_, v) => (nearestIdx(v, bc.value), v, 1L) }
        .groupByKey(_._1)
        .reduceGroups { (a, b) =>
          val s = new Array[Double](dim)
          var j = 0; while (j < dim) { s(j) = a._2(j) + b._2(j); j += 1 }
          (a._1, s, a._3 + b._3)
        }
        .map(_._2)
        .collect()
        .map { case (i, s, n) => i -> s.map(_ / n) }
        .toMap
      centers = centers.zipWithIndex.map { case (old, i) => agg.getOrElse(i, old) }
    }
    ds.unpersist()
    centers
  }

  /** The IVF cell index: corpus assignment (vid, cid) and the queries'
    * probed cells (qid, cid) under the one cell ranking. Trained
    * (spherical) centroids rank unit vectors, so cells follow cosine;
    * the deterministic first-`nList` cells rank raw v (the oracle
    * config).
    */
  private def ivfCells(
      emb: DataFrame,
      nList: Int,
      nProbe: Int,
      centroids: Option[Array[Array[Double]]]
  ): (DataFrame, DataFrame) = {
    val vs = vecsN(emb)
    val pts =
      if (centroids.isDefined) vs.select(col("vec_id"), transform(col("v"), x => x / col("nrm")).as("v"))
      else vs.select(col("vec_id"), col("v"))
    val cents = centroidFrame(vs, nList, centroids)
    (
      nearestCells(cellDists(pts, cents), 1).select(col("vec_id").as("vid"), col("cid")),
      probeCells(pts, cents, nProbe, col("vec_id") < nQueries)
    )
  }

  /** The (qid, vid) candidate set an IVF probe would score, each pair
    * once (a vector lives in one cell, so no dedup pass runs) — exposed
    * for recall/cost accounting in tests and benchmarks.
    */
  def ivfCandidates(
      emb: DataFrame,
      nList: Int = 16,
      nProbe: Int = 4,
      centroids: Option[Array[Array[Double]]] = None
  ): DataFrame = {
    val (assign, probes) = ivfCells(emb, nList, nProbe, centroids)
    cellPairs(assign, probes).select(col("qid"), col("vid"))
  }

  /** IVF router over the in-memory corpus: the cell members are the
    * assignment joined to the scorer's corpus side.
    */
  private def ivfScore(
      s: Scorer,
      emb: DataFrame,
      nList: Int,
      nProbe: Int,
      centroids: Option[Array[Array[Double]]] = None
  ): DataFrame = {
    val (assign, probes) = ivfCells(emb, nList, nProbe, centroids)
    scorePairs(s, cellPairs(assign.join(s.c, Seq("vid")), probes))
  }

  /** IVF top-k: coarse-quantize the corpus to `nList` centroid cells
    * (deterministic centroids: the first nList vectors), probe the
    * `nProbe` nearest cells per query, rank only those candidates.
    * Bounds the scored pairs to ~nProbe/nList of the corpus — the
    * standard ANN recall/cost dial. Centroid assignment is one
    * broadcast nested-loop over a tiny centroid set; candidate scoring
    * is an equi-join on cell id.
    */
  def ivfTopk(
      emb: DataFrame,
      nList: Int = 16,
      nProbe: Int = 4,
      centroids: Option[Array[Array[Double]]] = None
  ): DataFrame = {
    val s = cosScorer(emb)
    rankTopK(ivfScore(s, emb, nList, nProbe, centroids), s)
  }

  private def arrSql(xs: Array[Double]): String =
    xs.map(graft.core.Dsp.lit).mkString("[", ", ", "]")

  /** CTE chain ending in `b(vec_id, bucket)` — the |ps|-bit hyperplane
    * signature (sign bits of literal-embedded plane dot products, packed
    * exactly like [[lshBuckets]]: bit idx 63 lands on the BIGINT sign
    * bit, and the disjoint-bit sum reproduces the two's-complement Long
    * the Spark plan computes). The hyperplanes are rendered as
    * 64-element literal lists from the same driver-side arrays the
    * Spark plan uses.
    */
  private def lshCtes(ps: Array[Array[Double]]): String = {
    val sig = ps.zipWithIndex
      .map { case (p, idx) => s"(CASE WHEN ${dotSql("v", arrSql(p))} > 0 THEN ${1L << idx} ELSE 0 END)" }
      .mkString(" + ")
    "vs AS MATERIALIZED (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings), " +
      s"b AS MATERIALIZED (SELECT vec_id, CAST($sig AS BIGINT) AS bucket FROM vs)"
  }

  val bucketsSql: String =
    s"WITH ${lshCtes(planes)} SELECT bucket, count(*) AS n_vecs FROM b GROUP BY bucket"

  /** Banded LSH candidate pairs: split a |ps|-bit hyperplane signature
    * into `nBands` equal-width bands; candidates = vectors sharing any
    * band value (an equi-join, never all-pairs), deduped before scoring.
    *
    * Band width is the recall/candidate-volume dial, and it must WIDEN
    * with corpus size: a random pair collides per band with p = 2^-width,
    * so expected background candidates are ~nBands·n²·2^-width — with the
    * default 64 planes in 4×16-bit bands that constant is 4/65536 ≈ 6e-5
    * (near-identical vectors, cos ≳ 0.98, still collide with high
    * probability), versus the 8-plane 2×4-bit oracle instance whose
    * n²/16 blows up quadratically at corpus scale (the VERDICT r3/r4
    * scale-killer — kept only as the SQL-replayable gate config).
    */
  def embedDupeCandidates(
      emb: DataFrame,
      ps: Array[Array[Double]] = planes64,
      nBands: Int = 4
  ): DataFrame = {
    require(ps.length % nBands == 0, s"nBands $nBands must divide plane count ${ps.length}")
    val width = ps.length / nBands
    require(width < 64, "band width must leave headroom in a BIGINT")
    val mask = (1L << width) - 1
    val sig = lshBuckets(emb, ps).select(col("vec_id"), col("bucket"))
    val bands = sig.select(
      col("vec_id"),
      posexplode(
        array((0 until nBands).map(b => shiftright(col("bucket"), width * b).bitwiseAND(lit(mask))): _*)
      ).as(Seq("bi", "bv"))
    )
    bands
      .select(col("vec_id").as("vid_a"), col("bi"), col("bv"))
      .join(bands.select(col("vec_id").as("vid_b"), col("bi"), col("bv")), Seq("bi", "bv"))
      .filter(col("vid_a") < col("vid_b"))
      .select(col("vid_a"), col("vid_b"))
      .distinct() // a pair can share several bands; score it once
  }

  /** Embedding-cosine near-duplicate pairs: banded-LSH candidates
    * verified by cosine ≥ τ. The dedup-family twin of the ANN path, for
    * "drop near-identical embeddings" pipelines. Defaults to the
    * scale-safe 64-plane / 4×16-bit banding (see
    * [[embedDupeCandidates]]); the gate query pins the 8-plane / 2×4-bit
    * oracle instance.
    */
  def embedDupes(
      emb: DataFrame,
      tau: Double = 0.4,
      ps: Array[Array[Double]] = planes64,
      nBands: Int = 4
  ): DataFrame = {
    val vs = vecsN(emb)
    embedDupeCandidates(emb, ps, nBands)
      .join(vs.select(col("vec_id").as("vid_a"), col("v").as("va"), col("nrm").as("na")), Seq("vid_a"))
      .join(vs.select(col("vec_id").as("vid_b"), col("v").as("vb"), col("nrm").as("nb")), Seq("vid_b"))
      .select(col("vid_a"), col("vid_b"), round(cosExpr, 6).as("cos"))
      .filter(col("cos") >= tau)
  }

  def embedDupesSql(tau: Double = 0.4, ps: Array[Array[Double]] = planes64, nBands: Int = 4): String = {
    val width = ps.length / nBands
    val mask = (1L << width) - 1
    s"WITH ${lshCtes(ps)}, " +
      s"bands AS (SELECT vec_id, g.bi AS bi, (bucket >> ($width * g.bi)) & $mask AS bv FROM b, generate_series(0, ${nBands - 1}) g(bi)), " +
      "cand AS (SELECT DISTINCT a.vec_id AS vid_a, c.vec_id AS vid_b FROM bands a " +
      "JOIN bands c ON a.bi = c.bi AND a.bv = c.bv AND a.vec_id < c.vec_id) " +
      "SELECT vid_a, vid_b, cos FROM (SELECT k.vid_a, k.vid_b, " +
      s"round($cosSqlExpr, 6) AS cos FROM " +
      "(SELECT c.vid_a, c.vid_b, x.v AS va, y.v AS vb FROM cand c " +
      "JOIN vs x ON x.vec_id = c.vid_a JOIN vs y ON y.vec_id = c.vid_b) k) " +
      s"WHERE cos >= ${graft.core.Dsp.lit(tau)}"
  }

  /** SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning
    * at web-scale through semantic deduplication"): cluster the
    * embedding space, then compare ONLY within-cluster pairs and keep
    * one representative per near-duplicate set — the cluster-scoped
    * alternative to [[embedDupes]]' LSH banding. Candidate volume is
    * Σ|cell|² instead of n²: at 100 TB the cluster count k is sized so
    * cells hold ~10⁴ vectors (the paper runs 11k clusters on LAION),
    * and the per-cell self-join shuffles each vector ONCE by its cell
    * key. Keep rule (deterministic): a vector is dropped iff a
    * SMALLER-id vector in its cell scores rounded-cosine ≥ tau — the
    * lowest id in each dup set survives (the dedup_exact keeper
    * convention; the paper keeps a random member).
    *
    * Gate config uses the oracle-replayable deterministic centroids
    * (first `nList` vectors — the sim_ivf convention); production
    * swaps in [[kmeansParallel]] centroids, which changes WHERE pairs
    * are compared, not the semantics. The threshold compares the
    * ROUNDED cosine on both engines (artifact_mask precedent), and
    * the argmin assignment rides the exact (d2, cid) struct order via
    * one min_by aggregation (the [[nearestCells]] n = 1 shape — no rank window, no
    * wide payload through a sort).
    */
  def semDedup(emb: DataFrame, nList: Int = 16, tau: Double = 0.4): DataFrame = {
    val vs = vecsN(emb)
    val centsDf = vs
      .filter(col("vec_id") < nList)
      .select(col("vec_id").as("cid"), col("v").as("cv"))
    // one row per vector after the map-side-combinable argmin; the
    // frame feeds both sides of the pair join AND the final verdict —
    // eager-checkpoint before the fan-out (components() precedent)
    val av = vs
      .select(col("vec_id"), col("v"), col("nrm"))
      .join(broadcast(centsDf))
      .select(
        col("vec_id"),
        struct(
          graft.functions.exprs.sq_dist(col("v"), col("cv")).as("d2"),
          col("cid")
        ).as("key"),
        struct(col("cid"), col("v"), col("nrm")).as("pay")
      )
      .groupBy(col("vec_id"))
      .agg(min_by(col("pay"), col("key")).as("pay"))
      .select(
        col("vec_id"),
        col("pay.cid").as("cid"),
        col("pay.v").as("v"),
        col("pay.nrm").as("nrm")
      )
      .localCheckpoint()
    val dropped = av
      .select(col("cid"), col("vec_id").as("vid_a"), col("v").as("va"), col("nrm").as("na"))
      .join(
        av.select(col("cid"), col("vec_id").as("vid_b"), col("v").as("vb"), col("nrm").as("nb")),
        Seq("cid")
      )
      .filter(col("vid_a") < col("vid_b"))
      .select(col("vid_b"), round(cosExpr, 6).as("cos"))
      .filter(col("cos") >= tau)
      .select(col("vid_b").as("dropped"))
      .distinct()
    av.select(col("vec_id"), col("cid"))
      .join(dropped, col("vec_id") === col("dropped"), "left")
      .select(col("vec_id"), col("cid"), col("dropped").isNull.as("kept"))
  }

  /** D4-style cluster-proportional sampling (Tirumala et al. 2023 —
    * "D4: Improving LLM Pretraining via Document De-Duplication and
    * Diversification"): the published next step after SemDeDup, riveted
    * from pieces this engine already proves one gate each —
    *
    *  1. semantic cells ([[semDedup]]'s assignment);
    *  2. the SemDeDup KEEP set (near-duplicate prototypes dropped);
    *  3. α-flattened per-CELL token budgets over the KEPT mass — an
    *     over-dense cell loses mass twice: its near-dups are dropped
    *     before weighing, and the sub-linear n^α flattening shrinks
    *     what remains (diversity-aware, duplication-aware);
    *  4. the exact-BIGINT md5 draw ([[graft.llm.Curation.sampleDraw]]
    *     mechanics): n_copies = target div cell_tok plus one residual
    *     Bernoulli copy keyed on md5(vec_id:cid) — deterministic,
    *     engine-independent, zero float surface in any decision.
    *
    * Scale shape: semDedup's cell-bounded pair work + one broadcast of
    * the nList-row plan; the draw is a row-local projection.
    */
  def sampleD4(
      emb: DataFrame,
      docs: DataFrame,
      nList: Int = 16,
      tau: Double = 0.4,
      alpha: Double = 0.7,
      budget: Long = 1000000L
  ): DataFrame = {
    require(budget % 1000000L == 0, "budget must be a whole number of Mtokens")
    val kept = semDedup(emb, nList, tau) // (vec_id, cid, kept)
    val toks = docs.select(
      col("doc_id").as("vec_id"),
      size(split(col("text"), " ")).cast("long").as("n_tok")
    )
    // feeds the plan aggregation AND the final draw — checkpoint
    val base = kept.join(toks, Seq("vec_id")).localCheckpoint()
    val perCell = base
      .filter(col("kept"))
      .groupBy(col("cid"))
      .agg(sum(col("n_tok")).as("cell_tok"))
      .withColumn(
        "p_micro",
        expr(s"CAST(floor(pow(cell_tok, ${graft.core.Dsp.lit(alpha)}) * 1.0e6 + 0.5e0) AS BIGINT)")
      )
    // normalization via the constant-key broadcast (bm25 shape)
    val tot = perCell.agg(sum(col("p_micro")).as("wsum")).withColumn("k", lit(1))
    val plan = perCell
      .withColumn("k", lit(1))
      .join(broadcast(tot), Seq("k"))
      .withColumn("w_micro", expr("(2L * p_micro * 1000000L + wsum) div (2L * wsum)"))
      .select(
        col("cid"),
        col("cell_tok"),
        (col("w_micro") * lit(budget / 1000000L)).as("target_tok")
      )
    base
      .join(broadcast(plan), Seq("cid"))
      .withColumn("bs", expr("target_tok div cell_tok"))
      .withColumn("frac_micro", expr("((target_tok % cell_tok) * 1000000L) div cell_tok"))
      .withColumn(
        "h",
        expr(
          "CAST(conv(substr(md5(concat(CAST(vec_id AS STRING), ':', CAST(cid AS STRING))), 1, 8), 16, 10) AS BIGINT) % 1000000"
        )
      )
      .select(
        col("vec_id"),
        col("cid"),
        col("kept"),
        col("n_tok"),
        when(col("kept"), col("bs") + when(col("h") < col("frac_micro"), 1L).otherwise(0L))
          .otherwise(lit(0L))
          .as("n_copies")
      )
  }

  def sampleD4Sql(
      nList: Int = 16,
      tau: Double = 0.4,
      alpha: Double = 0.7,
      budget: Long = 1000000L
  ): String = {
    val bM = budget / 1000000L
    val h =
      "CAST(concat('0x', substr(md5(CAST(b.vid AS VARCHAR) || ':' || CAST(b.cid AS VARCHAR)), 1, 8)) AS BIGINT) % 1000000"
    s"WITH ${semDedupCtes(nList, tau)}, " +
      "dt AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok FROM documents), " +
      "basej AS MATERIALIZED (SELECT k.vid, k.cid, k.kept, dt.n_tok FROM keep k JOIN dt ON dt.doc_id = k.vid), " +
      "pc AS (SELECT cid, CAST(sum(n_tok) AS BIGINT) AS cell_tok FROM basej WHERE kept GROUP BY cid), " +
      s"p2 AS (SELECT cid, cell_tok, CAST(floor(pow(cell_tok, ${graft.core.Dsp.lit(alpha)}) * 1.0e6 + 0.5e0) AS BIGINT) AS p_micro FROM pc), " +
      "w2 AS (SELECT cid, cell_tok, CAST((2 * p_micro * 1000000 + sum(p_micro) OVER ()) // (2 * sum(p_micro) OVER ()) AS BIGINT) AS w_micro FROM p2), " +
      s"pl AS (SELECT cid, cell_tok, w_micro * $bM AS target_tok FROM w2) " +
      "SELECT b.vid AS vec_id, b.cid, b.kept, b.n_tok, " +
      "CAST(CASE WHEN b.kept THEN (pl.target_tok // pl.cell_tok) + " +
      s"(CASE WHEN ($h) < ((pl.target_tok % pl.cell_tok) * 1000000) // pl.cell_tok THEN 1 ELSE 0 END) " +
      "ELSE 0 END AS BIGINT) AS n_copies " +
      "FROM basej b JOIN pl ON pl.cid = b.cid"
  }

  /** k-NN GRAPH materialization — every vector's k nearest neighbors
    * as an edge table: the input to graph-based ANN serving, SemDeDup
    * variants, label propagation over embeddings, and outlier
    * screens. Candidates are cell-scoped exactly like [[semDedup]]
    * (Σ|cell|² bounded, never n²); ranking partitions by the REAL
    * per-vector key over the NARROW (vid_a, vid_b, cos) frame — the
    * scalar cosine is computed before the window, so no wide payload
    * rides the sort (the r10 wide-payload lesson). At scale the
    * within-cell graph misses boundary-crossing true neighbors;
    * production probes the nProbe nearest cells per vector (the
    * sim_ivf multi-probe machinery) — same plan, more candidate rows.
    */
  def knnGraph(emb: DataFrame, nList: Int = 16, k: Int = 3): DataFrame =
    knnEdgesFrom(firstCells(emb, nList), k)

  /** Argmin cell assignment of every vector against a broadcast
    * centroid frame — (vec_id, cid, v, nrm, d2), the min_by shape the
    * semDedup/knnGraph family shares (no rank window, no wide payload
    * through a sort). Checkpointed: every consumer fans out over it.
    */
  private def cellAssign(emb: DataFrame, cents: DataFrame): DataFrame =
    vecsN(emb)
      .select(col("vec_id"), col("v"), col("nrm"))
      .join(broadcast(cents))
      .select(
        col("vec_id"),
        struct(
          graft.functions.exprs.sq_dist(col("v"), col("cv")).as("d2"),
          col("cid")
        ).as("key"),
        struct(
          col("cid"),
          col("v"),
          col("nrm"),
          graft.functions.exprs.sq_dist(col("v"), col("cv")).as("d2")
        ).as("pay")
      )
      .groupBy(col("vec_id"))
      .agg(min_by(col("pay"), col("key")).as("pay"))
      .select(
        col("vec_id"),
        col("pay.cid").as("cid"),
        col("pay.v").as("v"),
        col("pay.nrm").as("nrm"),
        col("pay.d2").as("d2")
      )
      // r17: every consumer keys on cid (the in-cell pair self-join,
      // hierEdges' member×pivot joins, the entry-point groupBy) — land
      // the checkpoint pre-partitioned by cid so the self-join reads
      // both sides exchange-free (guide §2.4)
      .repartition(col("cid"))
      .localCheckpoint()

  /** Multi-probe cell assignment: each vector lands in its `nProbe`
    * nearest cells — the documented cure for within-cell edge
    * fragmentation (a latent neighborhood split across cells has no
    * single-cell pair group containing its true-neighbor pairs; with
    * nProbe ≥ 2 adjacent fragments co-occur in a shared cell).
    * Candidate volume scales ~nProbe² per pair group.
    */
  private def cellAssignMulti(emb: DataFrame, cents: DataFrame, nProbe: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("vec_id"))
      .orderBy(col("d2").asc, col("cid").asc)
    // rank on the NARROW (vec_id, cid, d2) frame only — the wide
    // embedding array must not ride the window sort (the r10
    // ivfPqTopkTrained spill lesson; r15 ADVICE fix) — and join the
    // payload back after the prune. `vs` feeds both the distance
    // compute and the payload join: checkpoint before the fan-out.
    val vs = vecsN(emb)
      .select(col("vec_id"), col("v"), col("nrm"))
      .localCheckpoint()
    val picks = vs
      .join(broadcast(cents))
      .select(
        col("vec_id"),
        col("cid"),
        graft.functions.exprs.sq_dist(col("v"), col("cv")).as("d2")
      )
      .withColumn("cr", row_number().over(w))
      .filter(col("cr") <= nProbe)
      .select(col("vec_id"), col("cid"), col("d2"))
    picks
      .join(vs, Seq("vec_id"))
      .select(col("vec_id"), col("cid"), col("v"), col("nrm"), col("d2"))
      .localCheckpoint()
  }

  /** Within-cell k-NN edges over an assignment frame (the r12 map-side
    * bounded-heap prune before the exact rank window). `dedup` is
    * required when the assignment is multi-probe: a pair sharing two
    * probed cells surfaces twice with the same cosine, and duplicate
    * rows through the rank window would occupy two ranks.
    */
  private def knnEdgesFrom(av: DataFrame, k: Int, dedup: Boolean = false): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("vid_a"))
      .orderBy(col("cos").desc, col("vid_b").asc)
    val scoredPairs0 = av
      .select(col("cid"), col("vec_id").as("vid_a"), col("v").as("va"), col("nrm").as("na"))
      .join(
        av.select(col("cid"), col("vec_id").as("vid_b"), col("v").as("vb"), col("nrm").as("nb")),
        Seq("cid")
      )
      .filter(col("vid_a") =!= col("vid_b"))
      .select(col("vid_a"), col("vid_b"), round(cosExpr, 6).as("cos"))
    // multi-probe dedup happens INSIDE the heap (enqueue-time contains
    // check — a duplicate pair must not crowd a real edge out of the
    // k slots) plus one distinct AFTER the prune (cross-task dups on
    // the ≤ tasks·k stream). A distinct on the raw candidate stream
    // here was measured at 47 GiB spill on the 100k decade — the
    // pre-heap shuffle the r12 lesson exists to avoid.
    val scoredPairs = scoredPairs0
    // MAP-SIDE partial top-k before the rank window: the candidate
    // volume is Σ|cell|² and shuffling it into the window spilled
    // 21 GiB at the 100k decade — a bounded per-(task, vid_a) heap
    // prunes that shuffle to ≤ tasks·k rows per vector, and the exact
    // window then re-ranks the union (global top-k == top-k of the
    // per-task top-ks; the heap orders by the FULL (cos desc, vid_b)
    // key, so no boundary tie can drop a row the window would keep)
    val spark2 = av.sparkSession
    import spark2.implicits._
    val pruned = scoredPairs
      .as[(Long, Long, Double)]
      .mapPartitions { it =>
        val heaps =
          scala.collection.mutable.HashMap.empty[Long, scala.collection.mutable.PriorityQueue[(Double, Long)]]
        // min-heap under the keep-order: worst kept element on top
        val ord = Ordering.by[(Double, Long), (Double, Long)] { case (c, b) => (-c, b) }
        it.foreach { case (a, b, c) =>
          val h = heaps.getOrElseUpdate(a, scala.collection.mutable.PriorityQueue.empty(ord))
          // dedup on enqueue (O(k) contains, k is small): under a
          // multi-probe assignment the same pair arrives once per
          // shared cell and must not occupy two of the k slots
          if (!dedup || !h.exists(_ == ((c, b)))) {
            h.enqueue((c, b))
            if (h.size > k) { h.dequeue(); () }
          }
        }
        heaps.iterator.flatMap { case (a, h) => h.iterator.map { case (c, b) => (a, b, c) } }
      }
      .toDF("vid_a", "vid_b", "cos")
    // cross-task duplicates survive two heaps; the pruned stream is
    // ≤ tasks·k rows per vector, so a distinct here is cheap
    val deduped = if (dedup) pruned.distinct() else pruned
    deduped
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** CTE list ending at `r(vid_a, vid_b, cos, rank)` — shared by the
    * k-NN gate and the label-propagation chain built on it.
    */
  private def knnCtes(nList: Int): String =
    ivfCtesSql(nList, Set("vs", "assign")) +
      "pairs AS (SELECT x.vid AS vid_a, y.vid AS vid_b, xa.v AS va, yb.v AS vb FROM assign x " +
      "JOIN assign y ON y.cid = x.cid AND x.vid <> y.vid " +
      "JOIN vs xa ON xa.vec_id = x.vid JOIN vs yb ON yb.vec_id = y.vid), " +
      s"scored AS (SELECT vid_a, vid_b, round($cosSqlExpr, 6) AS cos FROM pairs), " +
      "r AS (SELECT vid_a, vid_b, cos, row_number() OVER (PARTITION BY vid_a ORDER BY cos DESC, vid_b ASC) AS rank FROM scored)"

  def knnGraphSql(nList: Int = 16, k: Int = 3): String =
    s"WITH ${knnCtes(nList)} SELECT vid_a, vid_b, cos, rank FROM r WHERE rank <= $k"

  /** Graph-walk ANN serving over a k-NN edge table (HNSW layer 0). Per
    * query: seeds, `rounds` best-first beam steps, an exact re-rank of
    * the visited set. The candidate budget (seeds + rounds·beam·degree
    * per query) does not grow with cell size, unlike IVF's nProbe
    * budget (ScaleSpec pins recall ≥ IVF nProbe=4 at ≤ its budget). The
    * four entry points are configurations of one path (edges × seeds ×
    * walk scorer → [[beamWalk]] → [[walkRerank]]):
    *
    * | entry point         | edges ([[walkGraph]])                 | seeds                          | walk scorer  |
    * |---------------------|---------------------------------------|--------------------------------|--------------|
    * | `graphServe`        | k-NN over the first-nList cells       | the query's `beam` nearest cells | exact      |
    * | `graphServeHier`    | k-NN ∪ in-cell hierarchy, same cells  | the same                       | exact        |
    * | `graphServeHierSq8` | k-NN ∪ in-cell hierarchy, same cells  | the same                       | SQ8 codes    |
    * | `graphServeTrained` | k-NN (∪ hierarchy) over trained cells | near + far entry of every cell | exact or SQ8 |
    *
    * The deterministic configs (nList=16, k=3, beam=4, rounds=2 at the
    * gate) are SQL-replayable: the oracle replays every round as chained
    * CTEs ([[walkServeSql]]). ScaleSpec runs the scale config (k=8,
    * beam=8, rounds=3) where the recall claim lives.
    */
  def graphServe(
      emb: DataFrame,
      nList: Int = 16,
      k: Int = 3,
      beam: Int = 4,
      rounds: Int = 2,
      nQ: Int = nQueries
  ): DataFrame = walkRerank(emb, nQ, graphWalkVisited(emb, nList, k, beam, rounds, nQ))

  /** The walk's visited set (qid, vid) — exposed so ScaleSpec can
    * count the candidate budget the serve pass actually scored. */
  private[graft] def graphWalkVisited(
      emb: DataFrame,
      nList: Int,
      k: Int,
      beam: Int,
      rounds: Int,
      nQ: Int
  ): DataFrame = deterministicWalk(emb, nList, k, None, beam, rounds, nQ, sq8 = false)

  /** The walk over the first-nList cells, seeded at each query's `beam`
    * nearest cells — their centroids are corpus vectors.
    */
  private def deterministicWalk(
      emb: DataFrame,
      nList: Int,
      k: Int,
      kDown: Option[Int],
      beam: Int,
      rounds: Int,
      nQ: Int,
      sq8: Boolean
  ): DataFrame = {
    val vs = vecsD(emb).select(col("vec_id"), col("v"))
    val seeds = probeCells(vs, centroidFrame(vs, nList, None), beam, col("vec_id") < nQ)
      .select(col("qid"), col("cid").cast("long").as("vid"))
    beamWalk(emb, walkGraph(firstCells(emb, nList), k, kDown), seeds, beam, rounds, nQ, sq8)
  }

  /** Cell assignment against the first `nList` vectors as centroids. */
  private def firstCells(emb: DataFrame, nList: Int): DataFrame =
    cellAssign(emb, vecsN(emb).filter(col("vec_id") < nList).select(col("vec_id").as("cid"), col("v").as("cv")))

  /** Walk edges (vid_a, vid_b) over an assignment frame: the in-cell
    * k-NN edges, with the in-cell hierarchy ([[hierEdges]]) unioned in
    * when `kDown` is set.
    */
  private def walkGraph(av: DataFrame, k: Int, kDown: Option[Int], dedup: Boolean = false): DataFrame = {
    val knn = knnEdgesFrom(av, k, dedup).select(col("vid_a"), col("vid_b"))
    kDown.fold(knn)(d => knn.unionByName(hierEdges(av, d)).distinct())
  }

  /** The exact re-rank every walk ends with: the visited set scored by
    * exact cosine, each query's top-k (itself excluded).
    */
  private def walkRerank(emb: DataFrame, nQ: Int, visited: DataFrame): DataFrame = {
    val exact = cosScorer(emb, nQ)
    rankTopK(scoreCands(exact, visited).filter(col("vid") =!= col("qid")), exact)
      .select(col("qid"), col("vid"), col("cos"))
  }

  /** The BEST-FIRST walk loop: each round expands the top `beam` of the
    * NOT-YET-EXPANDED visited set (re-ranking ALL of visited re-expands
    * the same nodes every round: trained recall stuck at 0.94). One
    * flagged state (qid, vid, cos, expanded) carries visited and expanded
    * set, and a node is scored once, when it enters, so a round's score
    * join is O(new neighbors). The edge store is partitioned by the
    * expansion key `vid_a`, unsorted (the expansion builds the beam side
    * of a shuffled-hash join). The frontier `top` and the state each feed
    * two consumers, so both take a [[Rounds.checkpoint]]. Witness: the
    * rows left unexpanded — with none, a round expands nothing.
    *
    * The walk scores exact cosine, or SQ8 codes when `sq8`; the final
    * re-rank stays exact. A scorer must be deterministic per (qid, vid)
    * and round6-rounded: the walk scores a node once while the oracles
    * rescore the frontier every round.
    */
  private def beamWalk(
      emb: DataFrame,
      edges: DataFrame,
      seeds: DataFrame,
      beam: Int,
      rounds: Int,
      nQ: Int,
      sq8: Boolean
  ): DataFrame = {
    val sc: DataFrame => DataFrame = if (sq8) sq8Scorer(emb, nQ) else scoreCands(cosScorer(emb, nQ), _)
    val (store, state) = Rounds.round("walk", 0) {
      val (store, _) = Rounds.checkpoint(edges.repartition(col("vid_a")))
      val (state, _) = Rounds.checkpoint(
        sc(seeds.distinct()).select(col("qid"), col("vid"), col("cos"), lit(false).as("expanded"))
      )
      (store, state)
    }
    val bw = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid"))
      .orderBy(col("cos").desc, col("vid").asc)
    val run = Rounds.fixpoint("walk", state, rounds) { state =>
      val (top, _) = Rounds.checkpoint(
        state
          .filter(!col("expanded"))
          .withColumn("rn", row_number().over(bw))
          .filter(col("rn") <= beam)
          .select(col("qid"), col("vid"))
      )
      val newNeighbors = sc(
        top
          .hint("SHUFFLE_HASH") // build the beam side, stream the edge store
          .join(store, top("vid") === store("vid_a"))
          .select(col("qid"), col("vid_b").as("vid"))
      ).select(col("qid"), col("vid"), col("cos"), lit(false).as("expanded"))
      val (next, m) = Rounds.checkpoint(
        state
          .join(top.hint("SHUFFLE_HASH").withColumn("hit", lit(true)), Seq("qid", "vid"), "left")
          .select(
            col("qid"),
            col("vid"),
            col("cos"),
            (col("expanded") || coalesce(col("hit"), lit(false))).as("expanded")
          )
          .unionByName(newNeighbors)
          .groupBy(col("qid"), col("vid"))
          .agg(max(col("cos")).as("cos"), max(col("expanded")).as("expanded")),
        count(when(!col("expanded"), lit(1))).as("changed")
      )
      (next, m("changed"))
    }
    run.frame.select(col("qid"), col("vid"))
  }

  /** [[graphServe]] over TRAINED kmeans‖ centroids — the production
    * composition (and the one [[annRetrain]]'s refreshed centroids
    * feed): cells come from `cents` instead of the first-nList
    * vectors, and since trained centroids are not corpus vectors, each
    * cell seeds at member entry points (see [[trainedWalkVisited]]).
    */
  def graphServeTrained(
      emb: DataFrame,
      cents: Array[Array[Double]],
      k: Int = 8,
      beam: Int = 8,
      rounds: Int = 3,
      nQ: Int = nQueries,
      nProbeBuild: Int = 1,
      hier: Boolean = false,
      kDown: Int = 4,
      sq8: Boolean = false
  ): DataFrame =
    walkRerank(emb, nQ, trainedWalkVisited(emb, cents, k, beam, rounds, nQ, nProbeBuild, hier, kDown, sq8))

  /** The trained walk's visited set — exposed so ScaleSpec/Prof can
    * count the candidate budget the serve pass actually scored
    * (graphWalkVisited twin for the trained path). */
  private[graft] def trainedWalkVisited(
      emb: DataFrame,
      cents: Array[Array[Double]],
      k: Int,
      beam: Int,
      rounds: Int,
      nQ: Int,
      nProbeBuild: Int = 1,
      hier: Boolean = false,
      kDown: Int = 4,
      sq8: Boolean = false
  ): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val centsDf = cents.zipWithIndex
      .map { case (c, i) => (i.toLong, c.toSeq) }
      .toSeq
      .toDF("cid", "cv")
      .localCheckpoint() // feeds assignment AND query probing
    val av =
      if (nProbeBuild <= 1) cellAssign(emb, centsDf)
      else cellAssignMulti(emb, centsDf, nProbeBuild)
    // every cell seeds every query with TWO diverse entry points
    // (2·nList rows per query — the HNSW full-entry-coverage shape):
    // the centroid-NEAREST member and the boundary-MOST member. Under
    // a TRAINED quantizer a cell can merge two latent clusters — the
    // centroid-side entry then lives in one cluster and the in-cell
    // k-NN graph barely crosses to the other, so a single entry leaves
    // half the cell unreachable (measured on the planted corpus:
    // recall 0.90 single-entry vs 1.00 with the boundary entry added);
    // the max-d2 member is structurally the best candidate for "the
    // other side". The first beam step prunes the frontier back to
    // `beam`, so extra seeds cost one scoring pass, not a wider walk.
    val entries = av
      .groupBy(col("cid"))
      .agg(
        min_by(col("vec_id"), struct(col("d2"), col("vec_id"))).as("vid_near"),
        max_by(col("vec_id"), struct(col("d2"), -col("vec_id"))).as("vid_far")
      )
    val entryVids = entries
      .select(explode(array(col("vid_near"), col("vid_far"))).as("vid"))
      .distinct()
    val seeds = vecsN(emb)
      .filter(col("vec_id") < nQ)
      .select(col("vec_id").as("qid"))
      .join(broadcast(entryVids))
    // hier: union the in-cell hierarchy (fat-cell regime — the r14
    // measured boundary this layer exists to cross)
    val edges = walkGraph(av, k, if (hier) Some(kDown) else None, dedup = nProbeBuild > 1)
    beamWalk(emb, edges, seeds, beam, rounds, nQ, sq8)
  }

  /** SQ8 coded frame + the approx scorer over it — the walk-ranking
    * leg shared by [[graphServeHierSq8]] and the trained sq8 path. */
  private def sq8Scorer(emb: DataFrame, nQ: Int): DataFrame => DataFrame = {
    // per-round score joins key on vid (r17); the checkpoint feeds the
    // query side AND every round's score
    val s = sq8Approx(sq8Codes(emb).repartition(col("vec_id")).localCheckpoint(), nQ, "cos")
    idx => scoreCands(s, idx)
  }

  /** In-cell HIERARCHY edges — the published cure for the measured
    * fat-cell boundary (BASELINE.md r14: flat in-cell 8/16-NN graphs
    * are NOT navigable at ~1500-member cells in 64 dims — recall
    * 0.52–0.64; this is exactly why HNSW has hierarchy and long-range
    * links). One coarse layer per cell, built off the SAME assignment
    * frame the k-NN edges use:
    *
    *  - PIVOTS: each cell samples ⌈√m⌉ members by md5(vec_id) order —
    *    deterministic, so the oracle replays the draw (sample_draw
    *    convention); pivot count WIDENS with cell size (the nList
    *    rule applied inside the cell).
    *  - UP-links: every member → its nearest pivot (one min_by).
    *  - DOWN-links: every pivot → its `kDown` nearest members.
    *  - PIVOT CLIQUE: every pivot → every other pivot in its cell.
    *
    * The pivot layer is a CLIQUE, not a k-NN graph, and that is the
    * load-bearing choice: a nearest-pivot graph inherits the base
    * graph's geometry (on a low-intrinsic-dimension cloud the k-NN
    * graph is a long near-chain, and so is its pivot subsample —
    * measured here: sparse pivot links left fat-cell recall at 0.04),
    * while the clique crosses the whole cell in ONE hop at hub
    * granularity. Out-degree stays bounded at √m — the same order as
    * the member×pivot build itself — so expansion cost per beam node
    * is O(√m), and best-first then runs: member → its hub (1 hop) →
    * any hub (1 hop) → kDown members under the best hub (1 hop) →
    * local k-NN refinement. Cost: the member×pivot frame is Σ m·√m
    * NARROW rows per cell (vid, pid, d2 — no wide payload rides any
    * window; the r10 rule); the clique is Σ m edges per cell. Per-cell
    * work, so the build scales with the corpus exactly like the k-NN
    * edge build it augments.
    */
  private[graft] def hierEdges(av: DataFrame, kDown: Int = 2): DataFrame = {
    val sizes = av
      .groupBy(col("cid"))
      .agg(ceil(sqrt(count(lit(1)))).cast("int").as("np"))
    val wCell = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cid"))
      .orderBy(col("pr").asc, col("vec_id").asc)
    val pivots = av
      .select(col("cid"), col("vec_id"), md5(col("vec_id").cast("string")).as("pr"))
      .withColumn("rn", row_number().over(wCell))
      .join(broadcast(sizes), Seq("cid"))
      .filter(col("rn") <= col("np"))
      .select(col("cid"), col("vec_id").as("pid"))
    // pivot vectors feed member×pivot AND pivot×pivot — checkpoint
    // before the fan-out (components() rule)
    val pvecs = pivots
      .join(av.select(col("vec_id").as("pid"), col("v").as("pv")), Seq("pid"))
      .localCheckpoint()
    val mp = av
      .select(col("cid"), col("vec_id"), col("v"))
      .join(pvecs, Seq("cid"))
      .filter(col("vec_id") =!= col("pid"))
      .select(
        col("vec_id"),
        col("pid"),
        graft.functions.exprs.sq_dist(col("v"), col("pv")).as("d2")
      )
      .localCheckpoint() // feeds up-links AND down-links
    val up = mp
      .groupBy(col("vec_id"))
      .agg(min_by(col("pid"), struct(col("d2"), col("pid"))).as("pid"))
      .select(col("vec_id").as("vid_a"), col("pid").as("vid_b"))
    val wPiv = org.apache.spark.sql.expressions.Window
      .partitionBy(col("pid"))
      .orderBy(col("d2").asc, col("vec_id").asc)
    val down = mp
      .withColumn("rn", row_number().over(wPiv))
      .filter(col("rn") <= kDown)
      .select(col("pid").as("vid_a"), col("vec_id").as("vid_b"))
    val pedges = pvecs
      .select(col("cid"), col("pid").as("pa"))
      .join(pvecs.select(col("cid"), col("pid").as("pb")), Seq("cid"))
      .filter(col("pa") =!= col("pb"))
      .select(col("pa").as("vid_a"), col("pb").as("vid_b"))
    up.unionByName(down).unionByName(pedges)
  }

  /** [[graphServe]] with the in-cell hierarchy unioned into the edge
    * frame — the deterministic (oracle-replayable) config of the
    * fat-cell fix: same seeds, same walk, same exact re-rank; only the
    * edge table gains the up/down/pivot long-range links.
    */
  def graphServeHier(
      emb: DataFrame,
      nList: Int = 16,
      k: Int = 3,
      kDown: Int = 2,
      beam: Int = 4,
      rounds: Int = 2,
      nQ: Int = nQueries
  ): DataFrame = walkRerank(emb, nQ, deterministicWalk(emb, nList, k, Some(kDown), beam, rounds, nQ, sq8 = false))

  /** [[graphServeHier]] walking on SQ8 CODE scores — the full
    * HNSW-over-quantized serving stack: the walk's per-round ranking
    * reads the 8×-smaller [[sq8Encode]] tier (exact BIGINT code dot ×
    * scales — the sq8Topk scoring (ScaleSpec-pinned vs exact), so every round is still
    * oracle-replayable), and only the FINAL re-rank of the visited set
    * touches raw vectors. At scale this is the I/O shape that matters:
    * the serving tier holds codes, the raw store is only hit for
    * topK·nQ rows per query batch.
    */
  def graphServeHierSq8(
      emb: DataFrame,
      nList: Int = 16,
      k: Int = 3,
      kDown: Int = 2,
      beam: Int = 4,
      rounds: Int = 2,
      nQ: Int = nQueries
  ): DataFrame = walkRerank(emb, nQ, deterministicWalk(emb, nList, k, Some(kDown), beam, rounds, nQ, sq8 = true))

  /** Chained-CTE replay of [[graphServeHierSq8]]: the knn chain + the
    * hierarchy CTEs (md5-ordered pivot draw, up/down/pivot edges) +
    * the same per-round walk chain as [[graphServeSql]], each round
    * scored on SQ8 codes.
    */
  def graphServeHierSq8Sql(
      nList: Int = 16,
      k: Int = 3,
      kDown: Int = 2,
      beam: Int = 4,
      rounds: Int = 2
  ): String = {
    val hier =
      "hsz AS (SELECT cid, CAST(ceil(sqrt(count(*))) AS INT) AS np FROM assign GROUP BY cid), " +
        "prnk AS (SELECT vid, cid, row_number() OVER (PARTITION BY cid " +
        "ORDER BY md5(CAST(vid AS VARCHAR)) ASC, vid ASC) AS rn FROM assign), " +
        "piv AS MATERIALIZED (SELECT p.cid, p.vid AS pid FROM prnk p " +
        "JOIN hsz h ON h.cid = p.cid WHERE p.rn <= h.np), " +
        "mp AS MATERIALIZED (SELECT a.vid, p.pid, " +
        s"${d2Sql("x.v", "y.v")} AS d2 FROM assign a JOIN piv p ON p.cid = a.cid " +
        "JOIN vs x ON x.vec_id = a.vid JOIN vs y ON y.vec_id = p.pid WHERE a.vid <> p.pid), " +
        "up AS (SELECT vid AS vid_a, pid AS vid_b FROM (SELECT vid, pid, " +
        "row_number() OVER (PARTITION BY vid ORDER BY d2 ASC, pid ASC) AS rn FROM mp) WHERE rn = 1), " +
        s"dn AS (SELECT pid AS vid_a, vid AS vid_b FROM (SELECT pid, vid, " +
        s"row_number() OVER (PARTITION BY pid ORDER BY d2 ASC, vid ASC) AS rn FROM mp) WHERE rn <= $kDown), " +
        "pe AS (SELECT x.pid AS vid_a, y.pid AS vid_b FROM piv x " +
        "JOIN piv y ON y.cid = x.cid AND x.pid <> y.pid), " +
        s"edges AS MATERIALIZED (SELECT DISTINCT vid_a, vid_b FROM (" +
        s"SELECT vid_a, vid_b FROM r WHERE rank <= $k " +
        "UNION ALL SELECT vid_a, vid_b FROM up " +
        "UNION ALL SELECT vid_a, vid_b FROM dn " +
        "UNION ALL SELECT vid_a, vid_b FROM pe)), "
    walkServeSql(nList, hier, beam, rounds, sq8 = true)
  }

  /** Chained-CTE replay of [[graphServe]]'s deterministic walk: the
    * knn CTE chain (vs/rankedc/assign/edges) + per-round score → beam
    * → expand → union CTEs, exact re-rank at the end.
    */
  def graphServeSql(nList: Int = 16, k: Int = 3, beam: Int = 4, rounds: Int = 2): String =
    walkServeSql(nList, s"edges AS MATERIALIZED (SELECT vid_a, vid_b FROM r WHERE rank <= $k), ", beam, rounds, sq8 = false)

  /** The deterministic walk as chained CTEs: the knn chain, `edgeCtes`
    * (ending at `edges`), the seeds `v0` (each query's `beam` nearest
    * cells), then per round best-first candidates `c` (visited EXCEPT
    * expanded), their scores `s` — exact cosine, or the SQ8 code dot
    * when `sq8` — the beam `b`, the expanded set `e` and the visited set
    * `v`; finally the exact re-rank of the visited set.
    */
  private def walkServeSql(nList: Int, edgeCtes: String, beam: Int, rounds: Int, sq8: Boolean): String = {
    def exactScored(p: String, s: String, src: String, where: String): String =
      s"$p AS (SELECT t.qid, t.vid, q.va AS va, b.v AS vb FROM $src t " +
        s"JOIN vs b ON b.vec_id = t.vid JOIN qv q ON q.qid = t.qid$where), " +
        s"$s AS (SELECT qid, vid, round($cosSqlExpr, 6) AS cos FROM $p)"
    val sb = new StringBuilder
    sb ++= s"WITH ${knnCtes(nList)}, $edgeCtes"
    sb ++= s"qv AS MATERIALIZED (SELECT vec_id AS qid, v AS va FROM vs WHERE vec_id < $nQueries), "
    if (sq8) {
      sb ++= s"qt8 AS (SELECT vec_id, v, sqrt(${dotSql("v", "v")}) AS nrm, $sq8ScaleSql AS m FROM vs), "
      sb ++= s"coded AS MATERIALIZED (SELECT vec_id, nrm, m, $sq8CodeSql AS q FROM qt8), "
      sb ++= s"qv8 AS MATERIALIZED (SELECT vec_id AS qid, q AS qa, m AS ma, nrm AS na " +
        s"FROM coded WHERE vec_id < $nQueries), "
    }
    sb ++= s"v0 AS MATERIALIZED (SELECT DISTINCT pid AS qid, CAST(cid AS BIGINT) AS vid " +
      s"FROM rankedc WHERE pid < $nQueries AND cr <= $beam), "
    sb ++= "e0 AS (SELECT qid, vid FROM v0 WHERE 1 = 0), "
    for (rd <- 1 to rounds) {
      val prev = s"v${rd - 1}"
      val prevE = s"e${rd - 1}"
      // best-first: candidates = visited not yet expanded
      sb ++= s"c$rd AS (SELECT qid, vid FROM $prev EXCEPT SELECT qid, vid FROM $prevE), "
      if (sq8) {
        sb ++= s"p$rd AS (SELECT t.qid, t.vid, q.qa AS qa, q.ma AS ma, q.na AS na, " +
          s"b.q AS qb, b.m AS mb, b.nrm AS nb FROM c$rd t " +
          s"JOIN coded b ON b.vec_id = t.vid JOIN qv8 q ON q.qid = t.qid), "
        sb ++= s"s$rd AS (SELECT qid, vid, round(CAST(${dotSql("qa", "qb")} AS DOUBLE) * ma * mb " +
          s"/ (127.0e0 * 127.0e0) / (na * nb), 6) AS cos FROM p$rd), "
      } else sb ++= exactScored(s"p$rd", s"s$rd", s"c$rd", "") + ", "
      sb ++= s"b$rd AS MATERIALIZED (SELECT qid, vid FROM (SELECT qid, vid, " +
        s"row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vid ASC) AS rn FROM s$rd) WHERE rn <= $beam), "
      sb ++= s"e$rd AS MATERIALIZED (SELECT DISTINCT qid, vid FROM " +
        s"(SELECT qid, vid FROM $prevE UNION ALL SELECT qid, vid FROM b$rd)), "
      sb ++= s"v$rd AS MATERIALIZED (SELECT DISTINCT qid, vid FROM " +
        s"(SELECT qid, vid FROM $prev UNION ALL " +
        s"SELECT b.qid, e.vid_b AS vid FROM b$rd b JOIN edges e ON e.vid_a = b.vid)), "
    }
    sb ++= exactScored("pf", "sf", s"v$rounds", " WHERE t.vid <> t.qid") + " "
    sb ++= "SELECT qid, vid, cos FROM (SELECT qid, vid, cos, " +
      s"row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vid ASC) AS rank FROM sf) WHERE rank <= $topK"
    sb.toString
  }

  /** Label-propagation communities (Raghavan et al. 2007) over the
    * [[knnGraph]] edge table — the clustering that needs NO centroid
    * count: each synchronous round every vector adopts the most common
    * label among its k-NN neighbors (tie → smallest label; isolated
    * vectors keep their own), at most 5 rounds. Deterministic by
    * construction (synchronous updates, total tie order), so the
    * oracle replays all rounds as chained CTEs.
    */
  def lpCommunities(emb: DataFrame, nList: Int = 16, k: Int = 3, rounds: Int = 5): DataFrame = {
    val edges = knnGraph(emb, nList, k).select(col("vid_a").as("src"), col("vid_b").as("dst"))
    communityLabels(vecsD(emb).select(col("vec_id").as("id")), edges, rounds)._1
      .select(col("id").as("vec_id"), col("lab").as("community"))
  }

  /** (id, lab) after at most `maxRounds` label-propagation rounds over
    * the undirected closure of `edges` (src, dst) — the body of
    * [[lpCommunities]] — plus the rounds run. Rounds are planned as
    * [[Dedup.components]]' are: the edge store is partitioned by the
    * round join key `dst` (unsorted), so a round shuffles only the
    * labels side, which builds the SHUFFLE_HASH join. Per round one
    * (node, label) count and one argmax aggregation; max_by on the
    * (c, −lab) struct picks the (count desc, lab asc) winner, and its
    * groupBy(src) output is already partitioned by id for the update.
    * Witness: the labels the round changed; a round that changes none
    * is a fixed point of the synchronous update.
    */
  private[graft] def communityLabels(nodes: DataFrame, edges: DataFrame, maxRounds: Int): (DataFrame, Int) = {
    val (und, labels) = Rounds.round("lpa", 0) {
      val (und, _) = Rounds.checkpoint(
        edges
          .unionByName(edges.select(col("dst").as("src"), col("src").as("dst")))
          .distinct()
          .repartition(col("dst"))
      )
      (und, Rounds.checkpoint(nodes.select(col("id"), col("id").as("lab")))._1)
    }
    val run = Rounds.fixpoint("lpa", labels, maxRounds) { labels =>
      val picked = und
        .join(labels.select(col("id").as("dst"), col("lab")).hint("SHUFFLE_HASH"), Seq("dst"))
        .groupBy(col("src"), col("lab"))
        .agg(count(lit(1)).as("c"))
        .groupBy(col("src").as("id"))
        .agg(max_by(col("lab"), struct(col("c"), -col("lab"))).as("newlab"))
      val (next, m) = Rounds.checkpoint(
        labels
          .join(picked.hint("SHUFFLE_HASH"), Seq("id"), "left")
          .select(col("id"), coalesce(col("newlab"), col("lab")).as("lab"), col("lab").as("old")),
        count(when(col("lab") =!= col("old"), lit(1))).as("changed")
      )
      (next.select(col("id"), col("lab")), m("changed"))
    }
    (run.frame, run.rounds)
  }

  def lpCommunitiesSql(nList: Int = 16, k: Int = 3, rounds: Int = 5): String = {
    val prefix =
      s"WITH ${knnCtes(nList)}, " +
        s"kg AS MATERIALIZED (SELECT vid_a, vid_b FROM r WHERE rank <= $k), " +
        "und AS MATERIALIZED (SELECT DISTINCT src, dst FROM " +
        "(SELECT vid_a AS src, vid_b AS dst FROM kg UNION ALL SELECT vid_b, vid_a FROM kg)), " +
        "nodes AS MATERIALIZED (SELECT vec_id AS id FROM vs), " +
        "l0 AS MATERIALIZED (SELECT id, id AS lab FROM nodes)"
    val iters = (1 to rounds)
      .map { r =>
        val p = s"l${r - 1}"
        s"c$r AS (SELECT u.src AS src, l.lab AS lab, count(*) AS c FROM und u " +
          s"JOIN $p l ON l.id = u.dst GROUP BY 1, 2), " +
          s"p$r AS (SELECT src AS id, lab AS newlab FROM " +
          s"(SELECT src, lab, row_number() OVER (PARTITION BY src ORDER BY c DESC, lab ASC) AS rn FROM c$r) WHERE rn = 1), " +
          s"l$r AS MATERIALIZED (SELECT l.id AS id, coalesce(p.newlab, l.lab) AS lab " +
          s"FROM $p l LEFT JOIN p$r p ON p.id = l.id)"
      }
      .mkString(", ", ", ", " ")
    prefix + iters + s"SELECT id AS vec_id, lab AS community FROM l$rounds"
  }

  /** The semDedup CTE chain ending at `keep(vid, cid, kept)` — shared
    * by the semdedup gate oracle and the D4 sampler's oracle (r15). */
  private def semDedupCtes(nList: Int, tau: Double): String =
    ivfCtesSql(nList, Set("vs", "assign")) +
      "pairs AS (SELECT y.vid AS vid_b, xa.v AS va, yb.v AS vb FROM assign x " +
      "JOIN assign y ON y.cid = x.cid AND x.vid < y.vid " +
      "JOIN vs xa ON xa.vec_id = x.vid JOIN vs yb ON yb.vec_id = y.vid), " +
      s"scored AS (SELECT vid_b, round($cosSqlExpr, 6) AS cos FROM pairs), " +
      s"dropped AS (SELECT DISTINCT vid_b FROM scored WHERE cos >= ${graft.core.Dsp.lit(tau)}), " +
      "keep AS MATERIALIZED (SELECT s.vid, s.cid, (d.vid_b IS NULL) AS kept " +
      "FROM assign s LEFT JOIN dropped d ON d.vid_b = s.vid)"

  def semDedupSql(nList: Int = 16, tau: Double = 0.4): String =
    s"WITH ${semDedupCtes(nList, tau)} " +
      "SELECT vid AS vec_id, cid, kept FROM keep"

  /** SQ8 scalar-quantized serving — the OTHER standard compressed tier
    * next to PQ (faiss's ScalarQuantizer): each vector stores 64 int8
    * codes + one max-abs scale (8× under raw doubles, 4× under
    * float32; PQ's 64× sits below it in the accuracy/bytes lattice).
    * q_i = round-half-up(v_i/m·127) with m = max|v_i|; the candidate
    * score is the EXACT BIGINT code dot times the two scales —
    * engine-independent integers under the shared floor(x+0.5)
    * convention, so the oracle replays the whole shortlist. Serve =
    * approx-rank (top `shortlist` per query, rounded-6dp approx cos +
    * vid tie-break) → exact re-rank of the shortlist (the PQ refine
    * shape). Gate config scores query×corpus directly (the sim_topk
    * brute baseline's shape — broadcast of the 10-row query table, the
    * wide arrays never enter a shuffle or a window: ranking runs on
    * the NARROW (qid, vid, approx) frame); at scale the candidate
    * stream comes IVF-scoped exactly like sim_pq_topk.
    */
  def sq8Topk(emb: DataFrame, shortlist: Int = 20, nQ: Int = nQueries): DataFrame = {
    val s = sq8Approx(sq8Codes(emb).localCheckpoint(), nQ, "cos_sq8") // feeds both scorer sides
    refineTopK(bruteScore(s), s, shortlist, cosScorer(emb, nQ))
      .select(col("qid"), col("vid"), col("cos"), col("cos_sq8"))
  }

  /** SQ8 codes as a STORE: (vec_id, m float, q tinyint[64]) — the
    * serving-tier layout between raw (8 B/dim) and PQ (1 B/subspace):
    * 1 B/dim + one scale. Input frame: (vec_id, v).
    */
  def sq8Encode(vecs: DataFrame): DataFrame =
    sq8Code(vecs, "TINYINT").select(col("vec_id"), col("m").cast("float").as("m"), col("q"))

  /** SQ8 over IVF-SCOPED candidates — the scale form of [[sq8Topk]]
    * (its brute query×corpus shape is the gate baseline; a 100 TB
    * serve never scans all codes): nProbe cells bound the candidate
    * stream exactly like sim_ivf_topk, the SQ8 tier ranks it, and
    * only the top-`shortlist` rows are refined from raw vectors.
    */
  def sq8TopkIvf(
      emb: DataFrame,
      nList: Int = 16,
      nProbe: Int = 4,
      shortlist: Int = 20,
      nQ: Int = nQueries
  ): DataFrame = {
    val s = sq8Approx(sq8Codes(emb).localCheckpoint(), nQ, "cos_sq8") // feeds both scorer sides
    refineTopK(ivfScore(s, emb, nList, nProbe), s, shortlist, cosScorer(emb, nQ))
      .select(col("qid"), col("vid"), col("cos"), col("cos_sq8"))
  }

  def sq8TopkIvfSql(nList: Int = 16, nProbe: Int = 4, shortlist: Int = 20): String =
    "WITH " + ivfCtesSql(nList, Set("vs")) + qcellsSql(nProbe) +
      "cand AS (SELECT DISTINCT q.qid, s.vid FROM qcells q JOIN assign s ON s.cid = q.cid WHERE q.qid <> s.vid), " +
      s"nr AS (SELECT vec_id, v, sqrt(${dotSql("v", "v")}) AS nrm FROM vs), " +
      s"qt AS (SELECT vec_id, v, nrm, $sq8ScaleSql AS m FROM nr), " +
      s"coded AS MATERIALIZED (SELECT vec_id, nrm, m, $sq8CodeSql AS q FROM qt), " +
      s"qv AS (SELECT vec_id AS qid, q AS qa, m AS ma, nrm AS na FROM coded WHERE vec_id < $nQueries), " +
      "ap AS (SELECT cand.qid, cand.vid, " +
      s"round(CAST(${dotSql("qv.qa", "b.q")} AS DOUBLE) * qv.ma * b.m / (127.0e0 * 127.0e0) / (qv.na * b.nrm), 6) AS approx " +
      "FROM cand JOIN coded b ON b.vec_id = cand.vid JOIN qv ON qv.qid = cand.qid), " +
      s"sh AS MATERIALIZED (SELECT qid, vid, approx FROM (SELECT qid, vid, approx, " +
      s"row_number() OVER (PARTITION BY qid ORDER BY approx DESC, vid ASC) AS rn FROM ap) WHERE rn <= $shortlist), " +
      "ex AS (SELECT s.qid, s.vid, s.approx AS cos_sq8, " +
      s"round(${cosSql("q.v", "b.v")}, 6) AS cos FROM sh s " +
      "JOIN vs b ON b.vec_id = s.vid JOIN vs q ON q.vec_id = s.qid) " +
      "SELECT qid, vid, cos, cos_sq8 FROM (SELECT qid, vid, cos, cos_sq8, " +
      s"row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vid ASC) AS rank FROM ex) WHERE rank <= $topK"

  // ---- Product quantization (Jégou et al., TPAMI 2011): compress the
  // corpus 32× (64 doubles → 8 byte-codes) and rank by asymmetric
  // distance to the reconstruction — the memory-scale path when 100 TB
  // of embeddings can't hold raw vectors in the serving tier. The gate
  // instance keeps deterministic codebooks (subvectors of the first
  // pqK vectors) so the DuckDB oracle can replay them; [[pqTrain]] is
  // the per-subspace-Lloyd production path. ----

  val pqM = 8 // subspaces
  val pqK = 16 // centroids per subspace
  private val pqSub = 64 / pqM

  /** Codebooks from pqK vectors: cb(j)(ci) = j-th subvector of vector ci. */
  private def codebookFrom(vectors: Seq[Seq[Double]]): Array[Array[Array[Double]]] =
    Array.tabulate(pqM, pqK)((j, ci) => vectors(ci).slice(j * pqSub, (j + 1) * pqSub).toArray)

  /** Deterministic gate codebooks: cb(j)(ci) = j-th subvector of the
    * vector with vec_id = ci. One bounded driver collect (pqK rows) —
    * the same shape the IVF gate's first-nList centroids use.
    */
  def pqCodebooks(emb: DataFrame): Array[Array[Array[Double]]] = {
    val rows = vecsD(emb)
      .filter(col("vec_id") < pqK)
      .orderBy(col("vec_id"))
      .select(col("vec_id"), col("v"))
      .collect()
    require(rows.length == pqK, s"corpus smaller than pqK=$pqK")
    codebookFrom(rows.toSeq.map(_.getSeq[Double](1)))
  }

  private def pqSubvec(v: Column, j: Int): Column = slice(v, j * pqSub + 1, pqSub)

  /** The PQ encode step: the 1-based code of subvector `sv` under the
    * subspace codebook `cbj` — the pqK literal distances, argmin, ties
    * to the first (lowest) centroid index. A pure projection: no
    * shuffle, no join.
    */
  private def pqArgmin(sv: Column, cbj: Array[Array[Double]]): Column = {
    val ds = array(cbj.map(c => graft.functions.exprs.sq_dist(sv, typedLit(c.toSeq))).toSeq: _*)
    array_position(ds, array_min(ds))
  }

  /** Row-local encode + reconstruct of the 64-dim array column `v`. */
  private def pqReconCol(v: Column, cb: Array[Array[Array[Double]]]): Column =
    concat((0 until pqM).map { j =>
      element_at(typedLit(cb(j).map(_.toSeq).toSeq), pqArgmin(pqSubvec(v, j), cb(j)).cast("int"))
    }: _*)

  /** Row-local encode of `v` to ONE packed BIGINT: 4 bits per subspace
    * code (pqK = 16), subspace j at bits [4j, 4j+4). Disjoint bit
    * fields sum ≡ OR, exact integer arithmetic.
    */
  private def pqCodeCol(v: Column, cb: Array[Array[Array[Double]]]): Column =
    (0 until pqM)
      .map(j => (pqArgmin(pqSubvec(v, j), cb(j)) - 1).cast("long") * lit(1L << (4 * j)))
      .reduce(_ + _)

  /** Row-local PQ encode + reconstruct: emits (vec_id, vq) with vq the
    * 64-dim reconstruction.
    */
  def pqReconstruct(emb: DataFrame, cb: Array[Array[Array[Double]]]): DataFrame =
    pqReconstructV(vecsD(emb).select(col("vec_id"), col("v")), cb)

  /** Same, over an already-projected (vec_id, v: array<double>) frame. */
  def pqReconstructV(vd: DataFrame, cb: Array[Array[Array[Double]]]): DataFrame =
    vd.select(col("vec_id"), pqReconCol(col("v"), cb).as("vq"))

  /** PQ top-k: exact query vectors (vec_id < nQueries, broadcast)
    * against the PQ-reconstructed corpus, ranked by asymmetric squared
    * distance. Corpus side never materializes raw vectors past the
    * scan — at serving scale only the 8 codes per vector live in the
    * index and reconstruction happens in the probe.
    */
  def pqTopk(emb: DataFrame, codebooks: Option[Array[Array[Array[Double]]]] = None): DataFrame = {
    val cb = codebooks.getOrElse(pqCodebooks(emb))
    val s = pqScorer(
      vecsD(emb).filter(col("vec_id") < nQueries).select(col("vec_id").as("qid"), col("v").as("va")),
      pqReconstruct(emb, cb).select(col("vec_id").as("vid"), col("vq")),
      col("va")
    )
    rankTopK(bruteScore(s), s)
  }

  /** `d` + `a` CTEs: the nearest codebook row (d2 asc, ci asc) of every
    * (id, j) subvector of `subs` under the codebook CTE `cb`.
    */
  private def pqArgminSql(d: String, a: String, subs: String, cb: String, id: String): String =
    s"$d AS (SELECT s.$id, s.j, c.ci, ${d2Sql("s.sv", "c.cv", pqSub)} AS d2 FROM $subs s JOIN $cb c ON c.j = s.j), " +
      s"$a AS (SELECT $id, j, ci FROM (SELECT $id, j, ci, " +
      s"row_number() OVER (PARTITION BY $id, j ORDER BY d2 ASC, ci ASC) AS rn FROM $d) WHERE rn = 1), "

  private def pqSliceSql(v: String): String = s"list_slice($v, g.j * $pqSub + 1, (g.j + 1) * $pqSub)"

  private val pqSubspacesSql = s"generate_series(0, ${pqM - 1}) g(j)"

  /** SQL twin of [[pqTopk]]'s gate instance: codebooks re-derived from
    * the first pqK vectors, argmin codes with lowest-index tiebreak,
    * ordered subspace reassembly, 64-term asymmetric distance.
    */
  val pqTopkSql: String =
    "WITH vs AS MATERIALIZED (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings), " +
      s"cb AS MATERIALIZED (SELECT g.j AS j, vec_id AS ci, ${pqSliceSql("v")} AS cv " +
      s"FROM vs, $pqSubspacesSql WHERE vec_id < $pqK), " +
      s"subs AS (SELECT vec_id, g.j AS j, ${pqSliceSql("v")} AS sv FROM vs, $pqSubspacesSql), " +
      pqArgminSql("dists", "codes", "subs", "cb", "vec_id") +
      "recon AS MATERIALIZED (SELECT vec_id, flatten(list(cv ORDER BY j)) AS vq " +
      "FROM codes JOIN cb USING (j, ci) GROUP BY vec_id), " +
      s"pairs AS (SELECT q.vec_id AS qid, r.vec_id AS vid, q.v AS va, r.vq AS vb FROM vs q " +
      s"JOIN recon r ON q.vec_id < $nQueries AND q.vec_id <> r.vec_id), " +
      s"scored AS (SELECT qid, vid, ${graft.core.Dsp.round6Sql(d2Sql("va", "vb"))} AS ad2 FROM pairs), " +
      rankSql("scored", "ad2", "ASC")

  /** Production codebook trainer: per-subspace Lloyd iterations,
    * initialized at the deterministic gate codebooks. Each iteration is
    * one pass over the corpus — assignment is the same literal-array
    * argmin projection the encoder uses (regenerated per round with the
    * current codebooks), and the new centroids come back as ONE tiny
    * aggregate (m·k·subdim cells) — never more than a few KB to the
    * driver, never an all-pairs step. Empty cells keep their previous
    * centroid.
    */
  def pqTrain(emb: DataFrame, iters: Int = 5): Array[Array[Array[Double]]] =
    pqTrainV(vecsD(emb).select(col("vec_id"), col("v")), pqCodebooks(emb), iters)

  /** floor(x·1e6+0.5)/1e6 — the Dsp.round6 formula applied driver-side
    * to codebook entries. The trained-gate config quantizes every
    * codebook to micros at each iteration boundary on BOTH engines, so
    * the discrete argmin encode can never flip on a cross-engine
    * float-sum-order ulp (an ulp in a MEAN would otherwise propagate
    * into a different CODE — a hash mismatch, not a 6th-decimal one).
    */
  private def q6(x: Double): Double = math.floor(x * 1e6 + 0.5) / 1e6

  /** Same trainer over an already-projected (vec_id, v: array<double>)
    * frame with explicit initial codebooks — the residual-PQ path of
    * the trained IVF+PQ composition feeds residual vectors through
    * here.
    */
  def pqTrainV(
      vd: DataFrame,
      init: Array[Array[Array[Double]]],
      iters: Int,
      quantize: Boolean = false
  ): Array[Array[Array[Double]]] = {
    val subs = vd
      .select(col("vec_id"), posexplode(array((0 until pqM).map(j => pqSubvec(col("v"), j)): _*)).as(Seq("j", "sv")))
      .persist()
    var cb = init
    // r17 note: a broadcast-join codebook (stable plan, codegen cached
    // across rounds) was measured SLOWER here — the per-round broadcast
    // build + the assignment join-back cost more than the per-round
    // janino compile of this literal projection. Kept literal.
    for (_ <- 1 to iters) {
      val codeCol = coalesce((0 until pqM).map(j => when(col("j") === j, pqArgmin(col("sv"), cb(j)))): _*)
      val cells = subs
        .select(col("j"), codeCol.as("ci"), posexplode(col("sv")).as(Seq("d", "x")))
        .groupBy(col("j"), col("ci"), col("d"))
        .agg(avg(col("x")).as("mx"))
        .collect()
      val next = cb.map(_.map(_.clone()))
      cells.foreach { r =>
        val m = r.getDouble(3)
        next(r.getInt(0))(r.getLong(1).toInt - 1)(r.getInt(2)) = if (quantize) q6(m) else m
      }
      cb = next
    }
    subs.unpersist()
    cb
  }

  // ---- IVF+PQ (the FAISS IndexIVFPQ shape): coarse cells bound the
  // candidates, PQ on the RESIDUAL (v − cell centroid) compresses what
  // remains — residual magnitudes are much smaller than raw vectors, so
  // the same 8-byte code budget buys far lower quantization error. The
  // production ANN layout at 10⁹+ vectors: 8 B/vector index + nProbe/
  // nList of the corpus scored per query. ----

  /** An IVF+PQ index over `vs` (vec_id, v) and the centroid frame
    * `cents`: the (vid, cid, r = v − cv) residuals of each vector to its
    * argmin cell, checkpointed (the codebook rows, the Lloyd scans, the
    * encode and the candidate stream all read them), and the residual
    * codebooks — initialized at residuals [from, from + pqK),
    * micro-quantized ([[q6]]) when `quantize`, then `iters` Lloyd
    * rounds of [[pqTrainV]] (0 keeps the deterministic init).
    */
  private def ivfPqIndex(
      vs: DataFrame,
      cents: DataFrame,
      from: Int,
      iters: Int,
      quantize: Boolean
  ): (DataFrame, Array[Array[Array[Double]]]) = {
    val resid = vs
      .join(nearestCells(cellDists(vs, cents), 1), Seq("vec_id"))
      .join(broadcast(cents), Seq("cid"))
      .select(col("vec_id").as("vid"), col("cid"), zip_with(col("v"), col("cv"), (a, b) => a - b).as("r"))
      .localCheckpoint()
    // 16 rows, sorted after the collect: an orderBy would plan a range-partitioned sort
    val rows = resid.filter(col("vid") >= from && col("vid") < from + pqK).collect().sortBy(_.getLong(0))
    require(rows.length == pqK, s"corpus smaller than ${from + pqK} vectors")
    val init = codebookFrom(rows.toSeq.map(r => r.getSeq[Double](2).map(x => if (quantize) q6(x) else x)))
    val cb =
      if (iters == 0) init
      else pqTrainV(resid.select(col("vid").as("vec_id"), col("r").as("v")), init, iters, quantize)
    (resid, cb)
  }

  /** The IVF-PQ residual scorer: each query's residual to the probed
    * cell (va − cv) against the member's reconstructed residual vq.
    * `recon` = (cid, vid, vq); a member's cell is the probed cell.
    */
  private def ivfPqScorer(vs: DataFrame, cents: DataFrame, recon: DataFrame): Scorer =
    pqScorer(
      vs.filter(col("vec_id") < nQueries).select(col("vec_id").as("qid"), col("v").as("va")),
      recon.join(broadcast(cents), Seq("cid")),
      zip_with(col("va"), col("cv"), (a, b) => a - b)
    )

  /** In-memory IVF-PQ: the index, its scorer and the scored probe
    * candidates of the nQueries query rows.
    */
  private def ivfPqScore(
      vs: DataFrame,
      cents: DataFrame,
      nProbe: Int,
      from: Int,
      iters: Int,
      quantize: Boolean
  ): (Scorer, DataFrame) = {
    val (resid, cb) = ivfPqIndex(vs, cents, from, iters, quantize)
    val s = ivfPqScorer(vs, cents, resid.select(col("cid"), col("vid"), pqReconCol(col("r"), cb).as("vq")))
    (s, scorePairs(s, probedPairs(s.c, probeCellLiterals(probeCells(vs, cents, nProbe, col("vec_id") < nQueries)))))
  }

  /** IVF+PQ top-k: probe `nProbe` cells per query, rank candidates by
    * the asymmetric distance between the query's residual-to-the-cell
    * and the candidate's PQ-reconstructed residual. Residual codebooks
    * are the residuals of vectors nList..nList+pqK−1 (deterministic and
    * non-degenerate — the first nList residuals are zero by
    * construction).
    */
  def ivfPqTopk(emb: DataFrame, nList: Int = 16, nProbe: Int = 4): DataFrame = {
    val vs = vecsD(emb).select(col("vec_id"), col("v"))
    val (s, scored) = ivfPqScore(vs, centroidFrame(vs, nList, None), nProbe, nList, 0, quantize = false)
    rankTopK(scored, s)
  }

  /** TRAINED IVF+PQ composition — kmeans|| coarse cells
    * ([[kmeansParallel]], spherical) + per-subspace-Lloyd residual
    * codebooks ([[pqTrainV]], initialized at the first pqK residuals) —
    * the production counterpart of the gate's deterministic
    * [[ivfPqTopk]] config (which pins first-nList centroids so the
    * DuckDB oracle can replay). Everything runs on UNIT vectors, so
    * cell ranking and the asymmetric distances order by cosine and
    * recall is measured against the exact cosine [[topk]] baseline
    * (ScaleSpec pins recall@5 ≥ 0.9 on a planted-cluster corpus; the
    * Prof PROF_EMB decade records the number at 100k vectors). The PQ
    * codes produce a SHORTLIST of `refine` candidates per query; only
    * those fetch their raw vectors for an exact re-rank (the FAISS
    * IndexRefineFlat shape) — PQ distortion on tight within-cluster
    * margins otherwise caps recall@5 well below the IVF probe bound
    * (measured 0.38 unrefined vs 0.95+ refined on the spec corpus).
    */
  def ivfPqTopkTrained(
      emb: DataFrame,
      cents: Array[Array[Double]],
      nProbe: Int = 4,
      iters: Int = 3,
      refine: Int = 50
  ): DataFrame = {
    val vs = vecsN(emb).select(col("vec_id"), transform(col("v"), x => x / col("nrm")).as("v"))
    val (s, scored) = ivfPqScore(vs, centroidFrame(vs, 0, Some(cents)), nProbe, 0, iters, quantize = false)
    refineTopK(scored, s, refine, unitDotScorer(vs)).select(col("qid"), col("vid"), col("cos"), col("rank"))
  }

  /** Row-local PQ encode to ONE packed BIGINT — the 8-byte serving
    * payload that replaces 256 B of raw floats in the index tier.
    */
  def pqEncodePacked(vd: DataFrame, cb: Array[Array[Array[Double]]]): DataFrame =
    vd.select(col("vec_id"), pqCodeCol(col("v"), cb).as("code"))

  /** Unpack a packed code and reconstruct the vector from literal
    * codebooks — bit-identical to [[pqReconstructV]] for the same
    * codebooks (the store round-trips an exact BIGINT).
    */
  def pqDecodePacked(codes: DataFrame, cb: Array[Array[Array[Double]]]): DataFrame = {
    val parts = (0 until pqM).map { j =>
      val cj = expr(s"CAST((code div ${1L << (4 * j)}) % 16 + 1 AS INT)")
      element_at(typedLit(cb(j).map(_.toSeq).toSeq), cj)
    }
    codes.withColumn("vq", concat(parts: _*)) // passthrough: keeps carrier columns (cid)
  }

  /** Batch ANN serving through a PACKED-CODES store: the IVF+PQ index
    * written as `partitionBy(cid)` parquet whose data columns are ONLY
    * (vid, code BIGINT) — 8 B/vector where [[ivfServeTopk]]'s layout
    * stores 256 B of raw floats, the 32× I/O reduction that makes a
    * 10⁹-vector serving tier scannable. The probe reads only the probed
    * cell partitions and reconstructs residuals IN the probe from
    * literal codebooks ([[pqDecodePacked]]). The oracle is
    * [[ivfPqTopkSql]] VERBATIM — serving through the codes store must
    * reproduce the in-memory IVF+PQ answers exactly (codes are exact
    * BIGINTs, reconstruction identical).
    */
  def ivfPqServeTopk(emb: DataFrame, nList: Int = 16, nProbe: Int = 4): DataFrame = {
    val vs = vecsD(emb).select(col("vec_id"), col("v"))
    val cents = centroidFrame(vs, nList, None)
    val (resid, cb) = ivfPqIndex(vs, cents, nList, 0, quantize = false)
    val store = writeCellStore(
      resid.select(col("vid"), col("cid"), pqCodeCol(col("r"), cb).as("code")),
      "sim_ivfpq_serve",
      "codes"
    )
    val probed = probeCellLiterals(probeCells(vs, cents, nProbe, col("vec_id") < nQueries))
    val members = pqDecodePacked(
      readCells(emb.sparkSession, store, probed).select(col("cid").cast("long").as("cid"), col("vid"), col("code")),
      cb
    )
    val s = ivfPqScorer(vs, cents, members.select(col("cid"), col("vid"), col("vq")))
    rankTopK(scorePairs(s, probedPairs(s.c, probed)), s)
  }

  /** TRAINED IVF+PQ, gate config — the oracle-replayable twin of
    * [[ivfPqTopkTrained]]: deterministic first-nList coarse cells (the
    * kmeans|| composition stays `[t]` — its seeding can't ride SQL
    * CTEs), but the residual CODEBOOKS ARE TRAINED by the production
    * [[pqTrainV]] Lloyd loop (init = residuals nList..nList+pqK−1,
    * `iters` distributed assignment+mean rounds) and the serve path
    * runs the full PQ-shortlist → exact-cosine REFINE composition.
    * Codebooks are micro-quantized at every iteration boundary on BOTH
    * engines ([[q6]]) so the discrete encode/argmin chain is ulp-proof
    * cross-engine; the oracle replays init → 2 Lloyd rounds → encode →
    * probe → shortlist → refine as chained CTEs. The refine reads
    * refine×nQueries raw vectors, never the corpus.
    */
  def ivfPqTrainedGate(
      emb: DataFrame,
      nList: Int = 16,
      nProbe: Int = 4,
      iters: Int = 2,
      refine: Int = 20
  ): DataFrame = {
    val vs = vecsD(emb).select(col("vec_id"), col("v"))
    val (s, scored) = ivfPqScore(vs, centroidFrame(vs, nList, None), nProbe, nList, iters, quantize = true)
    refineTopK(scored, s, refine, cosScorer(emb)).select(col("qid"), col("vid"), col("cos"), col("rank"))
  }

  /** The IVF-PQ oracle prefix: the IVF CTEs and the residuals. */
  private def ivfPqCtesSql(nList: Int): String =
    "WITH " + ivfCtesSql(nList, Set("vs", "cents", "rankedc", "assign")) +
      "resid AS MATERIALIZED (SELECT a.vid, a.cid, list_transform(generate_series(1, 64), i -> " +
      "list_extract(v.v, i) - list_extract(c.cv, i)) AS r " +
      "FROM assign a JOIN vs v ON v.vec_id = a.vid JOIN cents c ON c.cid = a.cid), "

  /** Residual subvectors, one row per (vid, j). */
  private def rsubsSql(mat: Boolean): String =
    s"rsubs AS${if (mat) " MATERIALIZED" else ""} (SELECT vid, g.j AS j, ${pqSliceSql("r")} AS sv " +
      s"FROM resid, $pqSubspacesSql), "

  /** The IVF-PQ probe CTEs: `pairs` of each query's probed cells with
    * their members' reconstructions `rrecon`, and their round6
    * asymmetric residual distances `scored`.
    */
  private def ivfPqProbeSql(pairs: String, scored: String): String = {
    val score = "list_sum(list_transform(generate_series(1, 64), i -> " +
      "((list_extract(va, i) - list_extract(cv, i)) - list_extract(vq, i)) * " +
      "((list_extract(va, i) - list_extract(cv, i)) - list_extract(vq, i))))"
    s"$pairs AS (SELECT q.qid, s.vid, qa.v AS va, c.cv AS cv, rr.vq AS vq FROM qcells q " +
      "JOIN assign s ON s.cid = q.cid AND s.vid <> q.qid " +
      "JOIN vs qa ON qa.vec_id = q.qid JOIN cents c ON c.cid = q.cid JOIN rrecon rr ON rr.vid = s.vid), " +
      s"$scored AS (SELECT qid, vid, ${graft.core.Dsp.round6Sql(score)} AS ad2 FROM $pairs), "
  }

  /** SQL twin of [[ivfPqTrainedGate]]: the full init → Lloyd → encode →
    * probe → shortlist → refine chain as materialized CTEs, codebooks
    * micro-quantized at every iteration boundary like the Spark side.
    */
  def ivfPqTrainedSql(nList: Int = 16, nProbe: Int = 4, iters: Int = 2, refine: Int = 20): String = {
    // one Lloyd round: assign every residual subvector under cb{t-1},
    // per-(j, ci, dim) mean, micro-quantize, empty cells keep cb{t-1}
    def lloyd(t: Int): String = {
      val prev = if (t == 1) "cb0" else s"cb${t - 1}"
      pqArgminSql(s"d$t", s"a$t", "rsubs", prev, "vid") +
        s"m$t AS (SELECT a.j, a.ci, u.i AS d, floor(avg(list_extract(s.sv, u.i)) * 1.0e6 + 0.5e0) / 1.0e6 AS mx " +
        s"FROM a$t a JOIN rsubs s ON s.vid = a.vid AND s.j = a.j, generate_series(1, $pqSub) u(i) " +
        "GROUP BY a.j, a.ci, u.i), " +
        s"cb$t AS MATERIALIZED (SELECT p.j, p.ci, CASE WHEN m.ci IS NULL THEN p.cv ELSE m.cv END AS cv " +
        s"FROM $prev p LEFT JOIN (SELECT j, ci, list(mx ORDER BY d) AS cv FROM m$t GROUP BY j, ci) m " +
        "ON m.j = p.j AND m.ci = p.ci)"
    }
    val cbF = s"cb$iters"
    ivfPqCtesSql(nList) + rsubsSql(mat = true) +
      s"cb0 AS MATERIALIZED (SELECT g.j AS j, vid - $nList AS ci, " +
      s"list_transform(${pqSliceSql("r")}, x -> floor(x * 1.0e6 + 0.5e0) / 1.0e6) AS cv " +
      s"FROM resid, $pqSubspacesSql WHERE vid >= $nList AND vid < ${nList + pqK}), " +
      (1 to iters).map(lloyd).mkString(", ") + ", " +
      pqArgminSql("de", "ae", "rsubs", cbF, "vid") +
      s"rrecon AS MATERIALIZED (SELECT vid, flatten(list(cv ORDER BY j)) AS vq " +
      s"FROM ae JOIN $cbF USING (j, ci) GROUP BY vid), " +
      qcellsSql(nProbe) + ivfPqProbeSql("pqpairs", "pqscored") +
      s"shortlist AS (SELECT qid, vid FROM (SELECT qid, vid, " +
      s"row_number() OVER (PARTITION BY qid ORDER BY ad2 ASC, vid ASC) AS rn FROM pqscored) WHERE rn <= $refine), " +
      "xpairs AS (SELECT s.qid, s.vid, qa.v AS va, cb.v AS vb FROM shortlist s " +
      "JOIN vs qa ON qa.vec_id = s.qid JOIN vs cb ON cb.vec_id = s.vid), " +
      s"exact AS (SELECT qid, vid, round($cosSqlExpr, 6) AS cos FROM xpairs), " +
      rankSql("exact", "cos", "DESC")
  }

  /** SQL twin of [[ivfPqTopk]] (nList=16, nProbe=4). */
  def ivfPqTopkSql(nList: Int = 16, nProbe: Int = 4): String =
    ivfPqCtesSql(nList) +
      s"rcb AS MATERIALIZED (SELECT g.j AS j, vid - $nList AS ci, ${pqSliceSql("r")} AS cv " +
      s"FROM resid, $pqSubspacesSql WHERE vid >= $nList AND vid < ${nList + pqK}), " +
      rsubsSql(mat = false) +
      pqArgminSql("rdists", "rcodes", "rsubs", "rcb", "vid") +
      "rrecon AS MATERIALIZED (SELECT vid, flatten(list(cv ORDER BY j)) AS vq " +
      "FROM rcodes JOIN rcb USING (j, ci) GROUP BY vid), " +
      qcellsSql(nProbe) + ivfPqProbeSql("pairs", "scored") +
      rankSql("scored", "ad2", "ASC")

  /** SQL twin of the exact-cosine IVF paths: deterministic centroids
    * (first nList vectors), argmin cell assignment with cid tiebreak,
    * the `nProbe` nearest cells of the `queries` rows, cosine on
    * candidates only (restricted to `labelKeep` when given).
    */
  private def ivfCosSql(
      nList: Int,
      nProbe: Int,
      queries: String = s"pid < $nQueries",
      labelKeep: Option[Int] = None,
      out: String = ""
  ): String =
    "WITH " + ivfCtesSql(nList, label = labelKeep.isDefined) + qcellsSql(nProbe, queries) +
      "pairs AS (SELECT q.qid, s.vid, qa.v AS va, cb.v AS vb FROM qcells q JOIN assign s ON s.cid = q.cid " +
      "JOIN vs qa ON qa.vec_id = q.qid JOIN vs cb ON cb.vec_id = s.vid " +
      s"WHERE q.qid <> s.vid${labelKeep.fold("")(l => s" AND cb.label = $l")}), " +
      s"scored AS (SELECT DISTINCT qid, vid, round($cosSqlExpr, 6) AS cos FROM pairs), " +
      rankSql("scored", "cos", "DESC", out)

  /** SQL twin of [[ivfTopk]] (nList=16, nProbe=4). */
  def ivfTopkSql(nList: Int = 16, nProbe: Int = 4): String = ivfCosSql(nList, nProbe)

  // ---- The ANN SERVING layout: vectors written `partitionBy(cell)` so
  // a probe reads ONLY its probed cell partitions — on object storage,
  // partition pruning is what turns IVF's candidate bound into an I/O
  // bound (the scan skips (nList − nProbe)/nList of the corpus bytes;
  // PlanAuditSpec pins the PartitionFilters). Float arrays and BIGINT
  // codes round-trip parquet losslessly, so serving through a store
  // must not change a single answer ----

  /** A written cell store: its path and its read-back schema (the
    * data columns, then the int `cid` partition column) — declared on
    * read, so serving runs no schema-inference job.
    */
  private final case class CellStore(path: String, schema: org.apache.spark.sql.types.StructType)

  /** Write `rows` (…, cid) as a `partitionBy(cid)` parquet cell store
    * under `Scratch.dir(name)/sub`. r17 (guide §6, small files):
    * clustered by the partition column so each cell writes ONE file
    * instead of one per (task × cell) — the write-side analogue of
    * Iceberg's hash distribution-mode.
    */
  private def writeCellStore(rows: DataFrame, name: String, sub: String): CellStore = {
    import org.apache.spark.sql.types.{IntegerType, StructField, StructType}
    val path = s"${graft.sources.Scratch.dir(name)}/$sub"
    rows.repartition(col("cid")).write.partitionBy("cid").mode("overwrite").parquet(path)
    CellStore(path, StructType(rows.schema.filterNot(_.name == "cid") :+ StructField("cid", IntegerType)))
  }

  /** Read only the probed cell partitions: the probed-cell UNION as
    * partition-pruning literals (int: the partition column's read-back
    * type — a long literal would cast the column and defeat pruning).
    */
  private def readCells(spark: SparkSession, store: CellStore, probed: Map[Long, Seq[Long]]): DataFrame =
    spark.read
      .schema(store.schema)
      .parquet(store.path)
      .filter(col("cid").isin(probed.keys.map(_.toInt).toSeq.sorted: _*))

  /** The raw-embedding store router shared by [[ivfLayoutTopk]] and
    * [[ivfServeTopk]]: (vec_id, embedding) written under each vector's
    * deterministic cell, then the `queries` rows' probed cells scored
    * exactly from the pruned read.
    */
  private def rawStoreScore(
      s: Scorer,
      emb: DataFrame,
      nList: Int,
      nProbe: Int,
      name: String,
      queries: Column
  ): DataFrame = {
    val vs = vecsD(emb).select(col("vec_id"), col("v"))
    val cents = centroidFrame(vs, nList, None)
    val store = writeCellStore(
      emb.select(col("vec_id"), col("embedding")).join(nearestCells(cellDists(vs, cents), 1), Seq("vec_id")),
      name,
      "cells"
    )
    val probed = probeCellLiterals(probeCells(vs, cents, nProbe, queries))
    val members = readCells(emb.sparkSession, store, probed)
      .select(
        col("cid").cast("long").as("cid"),
        col("vec_id").as("vid"),
        transform(col("embedding"), x => x.cast("double")).as("vb")
      )
      .withColumn("nb", sqrt(graft.functions.exprs.dot_d(col("vb"), col("vb"))))
    scorePairs(s, probedPairs(members, probed))
  }

  /** Single-query serving through the pruned layout: query vec 0's
    * probed cells only. Top-k of ONE query is orderBy + limit
    * (TakeOrderedAndProject: per-partition heaps, no global sort) — a
    * rank window over one key would sort every candidate in one task
    * (the r9 lesson; PlanAuditSpec rejects partition-less windows).
    */
  def ivfLayoutTopk(emb: DataFrame, nList: Int = 16, nProbe: Int = 4): DataFrame = {
    val s = cosScorer(emb)
    rawStoreScore(s, emb, nList, nProbe, "sim_ivf_layout", col("vec_id") === 0)
      .orderBy(nearestFirst(s): _*)
      .limit(topK)
  }

  /** Single-query (qid = 0) twin of [[ivfTopkSql]] over raw embeddings
    * — the oracle for the partition-pruned layout path.
    */
  def ivfLayoutTopkSql(nList: Int = 16, nProbe: Int = 4): String =
    ivfCosSql(nList, nProbe, queries = "pid = 0", out = "qid, vid, cos")

  /** BATCH ANN serving over the pruned layout — [[ivfLayoutTopk]]
    * generalized to a query TABLE. The UNION of probed cells (bounded
    * by `nList` at ANY query-batch size) renders as partition-pruning
    * literals so the store scan reads only the probed cell partitions
    * (PlanAuditSpec pins the cid PartitionFilters); the same literal
    * probe table routes each candidate row to its probing queries
    * row-locally and the query side joins broadcast — the corpus side
    * never shuffles; the rank window partitions by the REAL `qid` key.
    * The oracle is
    * [[ivfTopkSql]] VERBATIM over raw embeddings.
    */
  def ivfServeTopk(emb: DataFrame, nList: Int = 16, nProbe: Int = 4): DataFrame = {
    val s = cosScorer(emb)
    rankTopK(rawStoreScore(s, emb, nList, nProbe, "sim_ivf_serve", col("vec_id") < nQueries), s)
  }

  /** Row-local cell assignment against LITERAL centroids — the
    * window-free argmin streaming consumers need (streams can't rank):
    * the nList (d2, cid) pairs sort as one literal-width array
    * expression, ties break on the lower cid exactly like the window
    * path's (d2 asc, cid asc) ordering. Emits (vec_id, v, cid).
    */
  def ivfAssign(emb: DataFrame, cents: Array[Array[Double]]): DataFrame = {
    val dists = array(cents.zipWithIndex.map { case (c, i) =>
      struct(
        graft.functions.exprs.sq_dist(col("v"), typedLit(c.toSeq)).as("d2"),
        lit(i.toLong).as("cid")
      )
    }: _*)
    vecsD(emb).select(
      col("vec_id"),
      col("v"),
      element_at(array_sort(dists), 1).getField("cid").as("cid")
    )
  }

  /** ANN store DELETION cadence — the half of index freshness the
    * APPEND cadence doesn't cover (GDPR purges, re-crawled documents):
    * deletions land as TOMBSTONE ids in a sidecar parquet — an
    * O(deletions) append touching no store file — and serving reads
    * the store through a vec_id-keyed LEFT ANTI against the sidecar.
    * [[annCompact]] then rewrites ONLY the cells whose tombstone share
    * crossed the threshold (dynamic partition overwrite — untouched
    * cells keep their files byte-for-byte) and retires the applied
    * tombstones, so compaction cost tracks the DELETED fraction, not
    * the index size. The spec pins: view ≡ rebuild-minus-deleted,
    * cold-cell file immutability under compaction, and view
    * invariance across the compaction.
    */
  def annDelete(ids: DataFrame, tombDir: String): Unit = {
    ids.select(col("vec_id")).write.mode("append").parquet(tombDir)
    ()
  }

  def annServeView(spark: SparkSession, base: String, tombDir: String): DataFrame =
    spark.read.parquet(base).join(spark.read.parquet(tombDir), Seq("vec_id"), "left_anti")

  def annCompact(
      spark: SparkSession,
      base: String,
      tombDir: String,
      minDeletedShare: Double = 0.3
  ): Seq[Long] = {
    val store = spark.read.parquet(base)
    val tombs = spark.read.parquet(tombDir).localCheckpoint()
    val per = store
      .join(spark.read.parquet(tombDir).withColumn("del", lit(true)), Seq("vec_id"), "left")
      .groupBy(col("cid"))
      .agg(count(lit(1)).as("n"), sum(when(col("del"), 1L).otherwise(0L)).as("nd"))
    // nd < n: a FULLY-dead cell has no live rows for dynamic overwrite
    // to replace its partition with — it stays tombstoned (correct via
    // the anti-join) until an explicit partition drop
    val hot = per
      .filter(
        col("nd").cast("double") / col("n").cast("double") >= minDeletedShare &&
          col("nd") < col("n")
      )
      .select(col("cid").cast("long"))
      .collect()
      .map(_.getLong(0))
      .toSeq
    if (hot.nonEmpty) {
      // materialize BOTH rewrites before overwriting the paths they
      // read (read-own-overwrite discipline)
      val live = store
        .filter(col("cid").isin(hot: _*))
        .join(tombs, Seq("vec_id"), "left_anti")
        .localCheckpoint()
      val retired = store.filter(col("cid").isin(hot: _*)).select(col("vec_id"))
      val remaining = tombs.join(retired, Seq("vec_id"), "left_anti").localCheckpoint()
      val prev = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
      spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
      try live.write.partitionBy("cid").mode("overwrite").parquet(base)
      finally prev match {
        case Some(v) => spark.conf.set("spark.sql.sources.partitionOverwriteMode", v)
        case None => spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
      }
      remaining.write.mode("overwrite").parquet(tombDir)
    }
    hot
  }

  /** ANN centroid-drift RETRAIN — the maintenance leg append/delete/
    * compact don't cover: after sustained ingest the trained centroids
    * go stale (the corpus distribution moved) and recall decays
    * because probed cells no longer bound the true neighbors. Refit
    * kmeans‖ on a DETERMINISTIC md5 sample of the store (no RNG state
    * — any two runs retrain identically), re-assign every vector
    * row-locally against the new literal centroids, and rewrite ONLY
    * the cells whose membership changed (dynamic partition overwrite —
    * the dedup_incremental delta cadence): a cell no vector entered or
    * left keeps its files byte-for-byte. Cells whose entire membership
    * moved away get their partition dir dropped explicitly (dynamic
    * overwrite can't replace a partition with zero rows — the
    * annCompact dead-cell lesson). Cost = sample fit + one corpus
    * assignment pass + touched-cell-sized write, never an index
    * rebuild. Returns (new centroids, touched cell ids).
    *
    * Store layout: `(vec_id, v) partitionBy cid` — the [[ivfAssign]]
    * serving layout the append/delete specs pin.
    */
  def annRetrain(
      spark: SparkSession,
      base: String,
      sampleFrac: Double = 0.1,
      k: Int = 16
  ): (Array[Array[Double]], Seq[Long]) = {
    val store = spark.read
      .parquet(base)
      .select(col("vec_id"), col("v"), col("cid").cast("long").as("cid_old"))
      .localCheckpoint() // read-own-overwrite + referenced by both join sides
    val asEmb = store.select(col("vec_id"), col("v").as("embedding"), lit(0).as("label"))
    val sample = asEmb.filter(
      expr("CAST(conv(substr(md5(CAST(vec_id AS STRING)), 1, 8), 16, 10) AS BIGINT) % 1000000")
        < lit(math.max(1L, (sampleFrac * 1e6).toLong))
    )
    // degenerate store / tiny sample: fit on everything rather than crash
    val fitOn = if (sample.limit(k).count() >= k) sample else asEmb
    val newCents = kmeansParallel(fitOn, k)
    val assigned = ivfAssign(asEmb, newCents)
      .select(col("vec_id"), col("cid").as("cid_new"))
    val joined = store.join(assigned, Seq("vec_id"))
    val touched = joined
      .filter(col("cid_old") =!= col("cid_new"))
      .select(explode(array(col("cid_old"), col("cid_new"))).as("cid"))
      .distinct()
      .collect()
      .map(_.getLong(0))
      .toSeq
      .sorted
    if (touched.nonEmpty) {
      val newMembers = joined
        .filter(col("cid_new").isin(touched: _*))
        .select(col("vec_id"), col("v"), col("cid_new").as("cid"))
        .localCheckpoint() // materialize before overwriting what it reads
      val populated = newMembers.select(col("cid")).distinct().collect().map(_.getLong(0)).toSet
      val prev = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
      spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
      try newMembers.write.partitionBy("cid").mode("overwrite").parquet(base)
      finally prev match {
        case Some(v) => spark.conf.set("spark.sql.sources.partitionOverwriteMode", v)
        case None => spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
      }
      val fs = new org.apache.hadoop.fs.Path(base)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      touched.filterNot(populated).foreach { cid =>
        fs.delete(new org.apache.hadoop.fs.Path(s"$base/cid=$cid"), true)
        ()
      }
    }
    (newCents, touched)
  }

  /** STREAMING ANN serving twin: a stream of query vectors probed
    * against the static cell layout — the serving cadence where
    * queries arrive continuously while the index is a published
    * artifact. Every per-row step is window-free (streams can't rank):
    * probe cells come from sorting the literal nList-length (d2, cid)
    * array row-locally ([[ivfAssign]]'s argmin generalized to
    * top-nProbe), candidates via the stream-static equi-join on cid
    * (the static side is the [[ivfAssign]]-keyed layout — at scale the
    * partition-pruned store read), and the per-query top-k is ONE
    * aggregation taking the sorted prefix of the collected candidate
    * list (bounded by the probed-cell population). Batch-twin
    * equality: StreamServeSpec pins the output against [[ivfTopk]]
    * across micro-batches.
    */
  def serveStream(
      queries: DataFrame,
      cells: DataFrame,
      cents: Array[Array[Double]],
      nProbe: Int = 4
  ): DataFrame = {
    val qd = queries
      .select(col("qid"), transform(col("embedding"), x => x.cast("double")).as("va"))
      .withColumn("na", sqrt(graft.functions.exprs.dot_d(col("va"), col("va"))))
    val dists = array(cents.zipWithIndex.map { case (c, i) =>
      struct(
        graft.functions.exprs.sq_dist(col("va"), typedLit(c.toSeq)).as("d2"),
        lit(i.toLong).as("cid")
      )
    }: _*)
    val probed = qd
      .select(col("qid"), col("va"), col("na"), explode(slice(array_sort(dists), 1, nProbe)).as("p"))
      .select(col("qid"), col("va"), col("na"), col("p").getField("cid").as("cid"))
    val cand = cells
      .select(col("cid"), col("vec_id").as("vid"), col("v").as("vb"))
      .withColumn("nb", sqrt(graft.functions.exprs.dot_d(col("vb"), col("vb"))))
    probed
      .join(cand, Seq("cid"))
      .filter(col("qid") =!= col("vid"))
      .select(
        col("qid"),
        col("vid"),
        round(graft.functions.exprs.dot_d(col("va"), col("vb")) / (col("na") * col("nb")), 6).as("cos")
      )
      .groupBy(col("qid"))
      .agg(
        slice(
          array_sort(collect_list(struct((-col("cos")).as("nc"), col("vid"), col("cos")))),
          1,
          topK
        ).as("top")
      )
      .select(col("qid"), posexplode(col("top")).as(Seq("r", "t")))
      .select(
        col("qid"),
        col("t").getField("vid").as("vid"),
        col("t").getField("cos").as("cos"),
        (col("r") + 1).as("rank")
      )
  }

  /** SemDeDup-shaped semantic dedup (Abbas et al. 2023): coarse cells
    * bound the candidate set (never all-pairs across the corpus), then
    * within each cell any vector whose cosine to a LOWER-id cell-mate
    * reaches `tau` is flagged as that neighbor's duplicate — one row
    * per flagged vector (vec_id, dup_of = lowest close neighbor,
    * n_near). Cross-cell near-dups are missed by construction
    * (SemDeDup's documented recall trade); cell population bounds the
    * quadratic term exactly as in IVF. Deterministic first-`nList`
    * data-point cells keep the oracle replayable; pass trained
    * `kmeansParallel` centroids in production.
    */
  def semanticDupes(
      emb: DataFrame,
      tau: Double = 0.4,
      nList: Int = 16,
      centroids: Option[Array[Array[Double]]] = None
  ): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val vs = vecsN(emb)
    val cents = centroids match {
      case Some(cs) =>
        cs.zipWithIndex.map { case (c, i) => (i.toLong, c.toSeq) }.toSeq.toDF("cid", "cv")
      case None => vs.filter(col("vec_id") < nList).select(col("vec_id").as("cid"), col("v").as("cv"))
    }
    val d = vs
      .join(broadcast(cents))
      .select(
        col("vec_id"),
        col("cid"),
        graft.functions.exprs.sq_dist(col("v"), col("cv")).as("d2")
      )
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("vec_id"))
      .orderBy(col("d2").asc, col("cid").asc)
    val assign = d
      .select(col("vec_id"), col("cid"), row_number().over(w).as("cr"))
      .filter(col("cr") === 1)
      .select(col("vec_id"), col("cid"))
    val sides = assign.join(vs, Seq("vec_id"))
    val a = sides.select(col("cid"), col("vec_id").as("dup_of"), col("v").as("va"), col("nrm").as("na"))
    val b = sides.select(col("cid"), col("vec_id"), col("v").as("vb"), col("nrm").as("nb"))
    a.join(b, Seq("cid"))
      .filter(col("dup_of") < col("vec_id"))
      .filter(round(cosExpr, 6) >= tau)
      .groupBy(col("vec_id"))
      .agg(min(col("dup_of")).as("dup_of"), count(lit(1)).as("n_near"))
  }

  def semanticDupesSql(tau: Double = 0.4, nList: Int = 16): String = {
    val d2 = d2Sql("a.v", "c.cv")
    "WITH vs AS MATERIALIZED (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings), " +
      s"cents AS (SELECT vec_id AS cid, v AS cv FROM vs WHERE vec_id < $nList), " +
      s"dists AS (SELECT a.vec_id AS vid, c.cid AS cid, $d2 AS d2 FROM vs a CROSS JOIN cents c), " +
      "assign AS MATERIALIZED (SELECT vid, cid FROM (SELECT vid, cid, " +
      "row_number() OVER (PARTITION BY vid ORDER BY d2 ASC, cid ASC) AS cr FROM dists) WHERE cr = 1), " +
      "pairs AS (SELECT x.vid AS dup_of, y.vid AS vec_id, vx.v AS va, vy.v AS vb " +
      "FROM assign x JOIN assign y ON x.cid = y.cid AND x.vid < y.vid " +
      "JOIN vs vx ON vx.vec_id = x.vid JOIN vs vy ON vy.vec_id = y.vid) " +
      s"SELECT vec_id, min(dup_of) AS dup_of, count(*) AS n_near FROM pairs " +
      s"WHERE round($cosSqlExpr, 6) >= ${graft.core.Dsp.lit(tau)} GROUP BY vec_id"
  }

  /** Embedding-space benchmark decontamination — the semantic complement
    * of the n-gram `decontam` screen (contaminated paraphrases share no
    * shingles but sit next to the benchmark in embedding space). The
    * benchmark split is vec_id % 10 == 0 (the held-out-suite stand-in);
    * each train vector reports its nearest benchmark vector, the count
    * of benchmark vectors within cosine ≥ τ, and the contamination flag.
    *
    * Scale shape: a benchmark suite is KBs–MBs against a 100 TB corpus,
    * so the bench side broadcasts and scoring is map-side work over the
    * corpus partitioning; all |bench| scores for a train vector are
    * emitted inside its own partition, so the per-vector top-1/count
    * reduce map-side-combines to ONE row per train vector before the
    * only shuffle. Ties on the rounded cosine break to the smaller
    * benchmark id on both engines (max over (cos, -bid) ↔ the oracle's
    * cos DESC, bid ASC rank).
    */
  def decontamSemantic(emb: DataFrame, tau: Double = 0.4): DataFrame = {
    val vs = vecsN(emb)
    val bench = vs
      .filter(col("vec_id") % 10 === 0)
      .select(col("vec_id").as("bid"), col("v").as("vb"), col("nrm").as("nb"))
    val train = vs
      .filter(col("vec_id") % 10 =!= 0)
      .select(col("vec_id"), col("v").as("va"), col("nrm").as("na"))
    train
      .join(broadcast(bench))
      .select(col("vec_id"), col("bid"), round(cosExpr, 6).as("cos"))
      .groupBy(col("vec_id"))
      .agg(
        max(struct(col("cos"), (-col("bid")).as("negb"))).as("m"),
        sum(when(col("cos") >= tau, 1L).otherwise(0L)).as("n_near")
      )
      .select(
        col("vec_id"),
        (-col("m").getField("negb")).as("nearest_bench"),
        col("m").getField("cos").as("max_cos"),
        col("n_near"),
        (col("m").getField("cos") >= tau).as("contaminated")
      )
  }

  def decontamSemanticSql(tau: Double = 0.4): String = {
    val t = graft.core.Dsp.lit(tau)
    "WITH vs AS MATERIALIZED (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings), " +
      s"scored AS (SELECT t.vec_id AS vec_id, b.bid AS bid, round($cosSqlExpr, 6) AS cos " +
      "FROM (SELECT vec_id, v AS va FROM vs WHERE vec_id % 10 <> 0) t(vec_id, va) " +
      "CROSS JOIN (SELECT vec_id AS bid, v AS vb FROM vs WHERE vec_id % 10 = 0) b(bid, vb)), " +
      "ranked AS (SELECT vec_id, bid, cos, row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, bid ASC) AS rk FROM scored), " +
      s"agg AS (SELECT vec_id, CAST(sum(CASE WHEN cos >= $t THEN 1 ELSE 0 END) AS BIGINT) AS n_near FROM scored GROUP BY vec_id) " +
      s"SELECT r.vec_id, r.bid AS nearest_bench, r.cos AS max_cos, a.n_near, r.cos >= $t AS contaminated " +
      "FROM ranked r JOIN agg a ON a.vec_id = r.vec_id WHERE r.rk = 1"
  }

  // ---------------------------------------------------------------------
  // PCA over the embedding corpus (embed_pca)
  // ---------------------------------------------------------------------

  /** Power-iteration steps. Convergence is geometric in the eigengap;
    * the gate corpus converges to a small residual well before 24 (the
    * PcaSpec pins the Rayleigh residual). Both engines run the SAME
    * unnormalized chain, so even a not-fully-converged iterate is
    * hash-identical cross-engine.
    */
  val pcaIters = 24
  private val pcaDim = 64

  /** Mean-centered covariance as a long-form (i, j, c) table — the d×d
    * grid, d=64. ONE aggregation builds it: the double index explode
    * fans each vector to d² products, the groupBy(i, j) sum is map-side
    * combined, so the shuffle carries ≤ d² rows per partition no matter
    * the corpus size (the distributed-covariance shape — X'X as an
    * aggregation, never a driver-side matrix). c = Σxᵢxⱼ/n − μᵢμⱼ.
    */
  def pcaCov(df: DataFrame): DataFrame = {
    val vs = vecsD(df)
    val sxx = vs
      .select(col("v"), posexplode(col("v")).as(Seq("i", "xi")))
      .select(
        col("i"),
        col("xi"),
        col("v"),
        explode(sequence(lit(0), lit(pcaDim - 1))).as("j")
      )
      .select(col("i"), col("j"), (col("xi") * element_at(col("v"), col("j") + 1)).as("p"))
      .groupBy(col("i"), col("j"))
      .agg(sum(col("p")).as("sxx"), count(lit(1)).as("n"))
    val mu = vs
      .select(posexplode(col("v")).as(Seq("i", "xi")))
      .groupBy(col("i"))
      .agg(avg(col("xi")).as("mu"))
    sxx
      .join(broadcast(mu.select(col("i").as("mi"), col("mu").as("mu_i"))), col("i") === col("mi"))
      .join(broadcast(mu.select(col("i").as("mj"), col("mu").as("mu_j"))), col("j") === col("mj"))
      .select(col("i"), col("j"), (col("sxx") / col("n") - col("mu_i") * col("mu_j")).as("c"))
  }

  /** The iteration chain, rendered once and run by BOTH engines (Spark
    * via spark.sql over a checkpointed cov temp view, DuckDB with the
    * cov CTE inlined): v₀ = 1/8·𝟙, vₖ₊₁ = C·vₖ UNNORMALIZED (each level
    * references its predecessor exactly once — a linear plan; values
    * scale as λᵏ, far inside double range), one normalization at the
    * end, λ by Rayleigh quotient, sign fixed at the largest-|loading|
    * dimension. `mat` injects MATERIALIZED for DuckDB ("" for Spark).
    */
  /** v₀ → normalized v_N: the iteration half of the chain. `sfx`
    * namespaces the internal CTEs so the deflation chain can run it
    * once per component.
    */
  private def pcaIterSql(covRef: String, mat: String, sfx: String = ""): String = {
    val chain = (1 to pcaIters)
      .map { k =>
        s"v$k$sfx AS$mat (SELECT c.i AS i, sum(c.c * p.x) AS x " +
          s"FROM $covRef c JOIN v${k - 1}$sfx p ON p.i = c.j GROUP BY c.i)"
      }
      .mkString(", ")
    val vL = s"v$pcaIters$sfx"
    s"v0$sfx AS$mat (SELECT DISTINCT i, ${Dsp.lit(0.125)} AS x FROM $covRef), $chain, " +
      s"nrm$sfx AS$mat (SELECT sqrt(sum(x * x)) AS nv FROM $vL), " +
      s"vn$sfx AS$mat (SELECT i, x / (SELECT nv FROM nrm$sfx) AS x FROM $vL)"
  }

  /** Rayleigh λ + sign fix + output off a (possibly checkpointed)
    * `vnRef(i, x)` — the finishing half; referencing vn many times is
    * free once it is materialized.
    */
  private def pcaFinishSql(covRef: String, vnRef: String, mat: String): String =
    s"lam AS$mat (SELECT sum(c.c * a.x * b.x) AS l " +
      s"FROM $covRef c JOIN $vnRef a ON a.i = c.i JOIN $vnRef b ON b.i = c.j), " +
      s"tr AS$mat (SELECT sum(c) AS t FROM $covRef WHERE i = j), " +
      s"pick AS$mat (SELECT i FROM $vnRef ORDER BY abs(x) DESC, i LIMIT 1), " +
      s"sgn AS$mat (SELECT CASE WHEN x >= ${Dsp.lit(0.0)} THEN 1.0e0 ELSE -1.0e0 END AS s " +
      s"FROM $vnRef WHERE i = (SELECT i FROM pick)) " +
      s"SELECT $vnRef.i AS dim, ${Dsp.round6Sql(s"$vnRef.x * (SELECT s FROM sgn)")} AS loading, " +
      s"${Dsp.round6Sql("(SELECT l FROM lam)")} AS lambda1, " +
      s"${Dsp.round6Sql("(SELECT l FROM lam) / (SELECT t FROM tr)")} AS var_ratio FROM $vnRef"

  /** Top principal component of the embedding corpus: (dim, loading,
    * lambda1, var_ratio) — the embedding-whitening/compression primitive
    * (SemDeDup clusters in PCA space; retrieval stacks whiten before
    * ANN). The expensive part — covariance — is the ONE distributed
    * map-side-combined aggregation; the 24-step iteration then runs on
    * the collected d²-double matrix driver-side (the bounded-design-
    * artifact shape of the quality-classifier gradient and the DPSS
    * solve — a 64-dim eigen-iterate is not distributed work, and as 24
    * tiny join-agg stages it costs 2.6 s of pure scheduling). The math
    * is the oracle's chain verbatim: unnormalized steps from 0.125·𝟙,
    * one normalization, Rayleigh λ, sign at the largest-|loading| dim;
    * engine disagreement is the usual ≤1e-15 aggregation-order noise
    * under round6.
    */
  def pcaTop(s: SparkSession, df: DataFrame): DataFrame = {
    val d = pcaDim
    val c = Array.ofDim[Double](d, d)
    pcaCov(df).collect().foreach { r =>
      c(r.getAs[Int]("i"))(r.getAs[Int]("j")) = r.getAs[Double]("c")
    }
    var v = Array.fill(d)(0.125)
    for (_ <- 1 to pcaIters)
      v = Array.tabulate(d)(i => (0 until d).map(j => c(i)(j) * v(j)).sum)
    val nrm = math.sqrt(v.map(x => x * x).sum)
    val vn = v.map(_ / nrm)
    val lam = (0 until d).map(i => (0 until d).map(j => c(i)(j) * vn(i) * vn(j)).sum).sum
    val tr = (0 until d).map(i => c(i)(i)).sum
    var iMax = 0
    for (i <- 1 until d) if (math.abs(vn(i)) > math.abs(vn(iMax))) iMax = i
    val sgn = if (vn(iMax) >= 0.0) 1.0 else -1.0
    def r6(x: Double): Double = math.floor(x * 1.0e6 + 0.5e0) / 1.0e6
    import s.implicits._
    (0 until d)
      .map(i => (i, r6(vn(i) * sgn), r6(lam), r6(lam / tr)))
      .toDF("dim", "loading", "lambda1", "var_ratio")
  }

  /** Top-k principal components by DEFLATION on the same collected d²
    * covariance: after extracting (λ_m, v_m), C_{m+1} = C_m − λ_m v_m v_mᵀ
    * and the next power iterate runs on the deflated matrix. Driver
    * cost O(k·iters·d²) — corpus-independent, the bounded-artifact
    * shape [[pcaTop]] documents. The oracle replays the identical
    * chain: per component the same 24 unnormalized steps, one
    * normalization, Rayleigh λ, then the deflated covariance CTE.
    * Deflation is sign-invariant (v vᵀ = (−v)(−v)ᵀ exactly, ±1
    * multiplies are IEEE-exact), so the sign fix applies only at
    * output. var_ratio is always against trace(C₀).
    *
    * Whitening under SemDeDup-style pipelines wants k components, not
    * 1 — project out the top-k block, keep the residual geometry.
    */
  val pcaK = 3

  def pcaTopK(s: SparkSession, df: DataFrame, k: Int = pcaK): DataFrame = {
    val d = pcaDim
    val c = Array.ofDim[Double](d, d)
    pcaCov(df).collect().foreach { r =>
      c(r.getAs[Int]("i"))(r.getAs[Int]("j")) = r.getAs[Double]("c")
    }
    val tr = (0 until d).map(i => c(i)(i)).sum
    def r6(x: Double): Double = math.floor(x * 1.0e6 + 0.5e0) / 1.0e6
    val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, Double, Double, Double)]
    for (m <- 0 until k) {
      var v = Array.fill(d)(0.125)
      for (_ <- 1 to pcaIters)
        v = Array.tabulate(d)(i => (0 until d).map(j => c(i)(j) * v(j)).sum)
      val nrm = math.sqrt(v.map(x => x * x).sum)
      val vn = v.map(_ / nrm)
      val lam = (0 until d).map(i => (0 until d).map(j => c(i)(j) * vn(i) * vn(j)).sum).sum
      var iMax = 0
      for (i <- 1 until d) if (math.abs(vn(i)) > math.abs(vn(iMax))) iMax = i
      val sgn = if (vn(iMax) >= 0.0) 1.0 else -1.0
      for (i <- 0 until d) out += ((m, i, r6(vn(i) * sgn), r6(lam), r6(lam / tr)))
      for (i <- 0 until d; j <- 0 until d) c(i)(j) = c(i)(j) - lam * vn(i) * vn(j)
    }
    import s.implicits._
    out.toSeq.toDF("comp", "dim", "loading", "lam", "var_ratio")
  }

  /** CTE chain from `cov` (named `cov0` here) through k deflations,
    * ending in a UNION ALL over the per-component outputs.
    */
  private def pcaKChainSql(k: Int, mat: String): String = {
    val (ctes, select) = pcaKChainParts(k, mat)
    s"$ctes $select"
  }

  /** (ctes, final-select) halves of [[pcaKChainSql]] — split so
    * [[pcaWhitenSql]] can wrap the select as one more CTE.
    */
  private def pcaKChainParts(k: Int, mat: String): (String, String) = {
    val per = (0 until k).map { m =>
      val sfx = s"_$m"
      val cov = s"cov$m"
      val iter = pcaIterSql(cov, mat, sfx)
      val lam = s"lam$sfx AS$mat (SELECT sum(c.c * a.x * b.x) AS l " +
        s"FROM $cov c JOIN vn$sfx a ON a.i = c.i JOIN vn$sfx b ON b.i = c.j)"
      val defl =
        if (m == k - 1) ""
        else
          s", cov${m + 1} AS$mat (SELECT c.i AS i, c.j AS j, " +
            s"c.c - (SELECT l FROM lam$sfx) * a.x * b.x AS c " +
            s"FROM $cov c JOIN vn$sfx a ON a.i = c.i JOIN vn$sfx b ON b.i = c.j)"
      s"$iter, $lam$defl"
    }
    val selects = (0 until k).map { m =>
      val sfx = s"_$m"
      s"SELECT $m AS comp, vn$sfx.i AS dim, " +
        s"${Dsp.round6Sql(s"vn$sfx.x * (SELECT s FROM sgn$sfx)")} AS loading, " +
        s"${Dsp.round6Sql(s"(SELECT l FROM lam$sfx)")} AS lam, " +
        s"${Dsp.round6Sql(s"(SELECT l FROM lam$sfx) / (SELECT t FROM tr)")} AS var_ratio FROM vn$sfx"
    }
    val signs = (0 until k).map { m =>
      val sfx = s"_$m"
      s"pick$sfx AS$mat (SELECT i FROM vn$sfx ORDER BY abs(x) DESC, i LIMIT 1), " +
        s"sgn$sfx AS$mat (SELECT CASE WHEN x >= ${Dsp.lit(0.0)} THEN 1.0e0 ELSE -1.0e0 END AS s " +
        s"FROM vn$sfx WHERE i = (SELECT i FROM pick$sfx))"
    }
    (
      s"tr AS$mat (SELECT sum(c) AS t FROM cov0 WHERE i = j), " +
        per.mkString(", ") + ", " + signs.mkString(", "),
      selects.mkString(" UNION ALL ")
    )
  }

  /** vs → px → sxx → mu → cov0: the covariance preamble shared by the
    * k-component chain and the whitening projection (vs keeps vec_id —
    * the chain ignores it, the projection needs it).
    */
  private def pcaKPreambleSql: String =
    "vs AS MATERIALIZED (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings), " +
      s"px AS MATERIALIZED (SELECT gi.i AS i, gj.i AS j, " +
      "list_extract(v, gi.i + 1) * list_extract(v, gj.i + 1) AS p " +
      s"FROM vs, generate_series(0, ${pcaDim - 1}) gi(i), generate_series(0, ${pcaDim - 1}) gj(i)), " +
      "sxx AS MATERIALIZED (SELECT i, j, sum(p) AS sxx, count(*) AS n FROM px GROUP BY i, j), " +
      s"mu AS MATERIALIZED (SELECT gi.i AS i, avg(list_extract(v, gi.i + 1)) AS mu " +
      s"FROM vs, generate_series(0, ${pcaDim - 1}) gi(i) GROUP BY gi.i), " +
      "cov0 AS MATERIALIZED (SELECT s.i AS i, s.j AS j, s.sxx / s.n - a.mu * b.mu AS c " +
      "FROM sxx s JOIN mu a ON a.i = s.i JOIN mu b ON b.i = s.j)"

  def pcaKSql(k: Int = pcaK): String =
    s"WITH $pcaKPreambleSql, ${pcaKChainSql(k, " MATERIALIZED")}"

  /** PCA whitening — the projection SemDeDup-style pipelines run before
    * clustering: y_m = Σ_i L_m(i)·(v_i − μ_i) / sqrt(λ_m) over the
    * top-k components. Both engines project with the ROUND6 component
    * outputs and a round6 mean (exact shared inputs; the remaining
    * 64-term sum-order noise is absorbed by the final round6 —
    * embed_pca precedent), so whitened coords are cross-engine
    * hash-exact. Spark side: the k·d component table and the d-row mean
    * broadcast onto one posexplode of the corpus — a single data-sized
    * aggregation keyed (vec_id, comp); corpus-scale-safe.
    */
  def pcaWhiten(s: SparkSession, df: DataFrame, k: Int = pcaK): DataFrame = {
    val pk = pcaTopK(s, df, k)
    val mu6 = vecsD(df)
      .select(posexplode(col("v")).as(Seq("i", "xi")))
      .groupBy(col("i"))
      .agg(Dsp.round6(avg(col("xi"))).as("mu6"))
    vecsD(df)
      .select(col("vec_id"), posexplode(col("v")).as(Seq("i", "xi")))
      .join(broadcast(mu6), Seq("i"))
      .join(
        broadcast(pk.select(col("comp"), col("dim").as("i"), col("loading"), col("lam"))),
        Seq("i")
      )
      .groupBy(col("vec_id"), col("comp"))
      .agg(
        Dsp
          .round6(sum(col("loading") * (col("xi") - col("mu6"))) / sqrt(max(col("lam"))))
          .as("y")
      )
  }

  def pcaWhitenSql(k: Int = pcaK): String = {
    val (ctes, select) = pcaKChainParts(k, " MATERIALIZED")
    s"WITH $pcaKPreambleSql, $ctes, " +
      s"pk AS MATERIALIZED ($select), " +
      s"mu6 AS MATERIALIZED (SELECT i, ${Dsp.round6Sql("mu")} AS mu6 FROM mu), " +
      s"ev AS (SELECT vec_id, gi.i AS i, list_extract(v, gi.i + 1) AS xi " +
      s"FROM vs, generate_series(0, ${pcaDim - 1}) gi(i)) " +
      "SELECT vec_id, comp, " + Dsp.round6Sql("s / sqrt(l)") + " AS y FROM " +
      "(SELECT e.vec_id, p.comp, sum(p.loading * (e.xi - m.mu6)) AS s, max(p.lam) AS l " +
      "FROM ev e JOIN mu6 m ON m.i = e.i JOIN pk p ON p.dim = e.i " +
      "GROUP BY e.vec_id, p.comp)"
  }

  def pcaSql: String =
    "WITH vs AS MATERIALIZED (SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings), " +
      s"px AS MATERIALIZED (SELECT gi.i AS i, gj.i AS j, " +
      "list_extract(v, gi.i + 1) * list_extract(v, gj.i + 1) AS p " +
      s"FROM vs, generate_series(0, ${pcaDim - 1}) gi(i), generate_series(0, ${pcaDim - 1}) gj(i)), " +
      "sxx AS MATERIALIZED (SELECT i, j, sum(p) AS sxx, count(*) AS n FROM px GROUP BY i, j), " +
      s"mu AS MATERIALIZED (SELECT gi.i AS i, avg(list_extract(v, gi.i + 1)) AS mu " +
      s"FROM vs, generate_series(0, ${pcaDim - 1}) gi(i) GROUP BY gi.i), " +
      "cov AS MATERIALIZED (SELECT s.i AS i, s.j AS j, s.sxx / s.n - a.mu * b.mu AS c " +
      "FROM sxx s JOIN mu a ON a.i = s.i JOIN mu b ON b.i = s.j), " +
      s"${pcaIterSql("cov", " MATERIALIZED")}, ${pcaFinishSql("cov", "vn", " MATERIALIZED")}"

  // ---- Filtered ANN: metadata-constrained top-k (the faiss
  // IDSelector / "filtered search" serving feature): only candidates
  // satisfying a metadata predicate may rank. The filter composes into
  // the IVF candidate stream BEFORE any scoring (pre-filtering) — a
  // post-filter of an unconstrained top-k under-returns whenever the
  // predicate is selective, which is exactly when filtering matters ----

  /** IVF top-k among `label === labelKeep` vectors only: cell
    * ASSIGNMENT stays unfiltered (cells describe the whole corpus —
    * the store is built once, filters arrive per query), the filter
    * lands on the candidate join's corpus side, so non-matching
    * candidates drop before their dot product is ever computed.
    * Matches ivfTopk's plan otherwise (broadcast query table, narrow
    * ranking frame).
    */
  def filteredTopk(
      emb: DataFrame,
      nList: Int = 16,
      nProbe: Int = 4,
      labelKeep: Int = 1
  ): DataFrame = {
    val s = cosScorer(emb, keep = col("label") === labelKeep)
    rankTopK(ivfScore(s, emb, nList, nProbe), s)
  }

  def filteredTopkSql(nList: Int = 16, nProbe: Int = 4, labelKeep: Int = 1): String =
    ivfCosSql(nList, nProbe, labelKeep = Some(labelKeep))

  // ---- Hybrid retrieval: reciprocal rank fusion (Cormack, Clarke &
  // Buettcher, SIGIR 2009) — the standard way production RAG stacks
  // combine a lexical (BM25) leg with a dense (embedding-cosine) leg
  // without score calibration: fused(d) = Σ_legs 1/(k + rank_leg(d)),
  // rank-based so the legs' incomparable score scales never meet ----

  private val rrfK = 60 // the paper's constant
  private val rrfTopN = 20 // per-leg candidate depth
  private val rrfOut = 10

  /** Assign 1-based ranks to an ALREADY top-N-limited (doc_id, score)
    * frame without a global window (GlobalWindowCheck): one
    * sorted-prefix aggregation — collect the ≤N pairs, array_sort by
    * (score desc, doc_id asc), posexplode (the serveStream row-local
    * ranking shape). The upstream TakeOrderedAndProject bounds the
    * array width, so the single-group agg is O(topN) everywhere.
    */
  private def rrfRank(top: DataFrame, leg: String): DataFrame =
    top
      .agg(collect_list(struct(col("score"), col("doc_id"))).as("xs"))
      .select(
        posexplode(
          expr(
            "array_sort(xs, (a, b) -> CASE WHEN a.score > b.score THEN -1 " +
              "WHEN a.score < b.score THEN 1 WHEN a.doc_id < b.doc_id THEN -1 " +
              "WHEN a.doc_id > b.doc_id THEN 1 ELSE 0 END)"
          )
        )
      )
      .select(
        col("col.doc_id").as("doc_id"),
        lit(leg).as("leg"),
        (col("pos") + 1).cast("long").as("r")
      )

  /** Fused top-`rrfOut`: BM25 top-N over `documents` (the text_bm25
    * machinery verbatim) ∪ cosine top-N against the vec_id-0 query
    * over `embeddings` (vec_id ≡ doc_id in the corpus), combined by
    * RRF in EXACT integer nanos (10⁹ div (k + rank) — rank fusion is
    * rank-based, so nothing here ever needs float parity). Scale
    * shape: each leg is its gate's proven plan ending in a
    * TakeOrderedAndProject; the fusion is a union of two ≤N-row
    * frames + one doc_id groupBy — the corpus is touched exactly once
    * per leg regardless of size.
    */
  def retrieveRrf(docs: DataFrame, emb: DataFrame): DataFrame = {
    val lex = rrfRank(TextStats.bm25(docs), "lex")
    val vs = vecsN(emb)
    val q = vs.filter(col("vec_id") === 0).select(col("v").as("va"), col("nrm").as("na"))
    val denseTop = vs
      .filter(col("vec_id") =!= 0)
      .select(col("vec_id").as("doc_id"), col("v").as("vb"), col("nrm").as("nb"))
      .crossJoin(broadcast(q))
      .select(col("doc_id"), round(cosExpr, 6).as("score"))
      .orderBy(col("score").desc, col("doc_id").asc)
      .limit(rrfTopN)
    lex
      .unionByName(rrfRank(denseTop, "dense"))
      .groupBy(col("doc_id"))
      .agg(
        coalesce(max(when(col("leg") === "lex", col("r"))), lit(0L)).as("lex_rank"),
        coalesce(max(when(col("leg") === "dense", col("r"))), lit(0L)).as("dense_rank"),
        sum(expr(s"1000000000 div ($rrfK + r)")).as("rrf_nanos")
      )
      .orderBy(col("rrf_nanos").desc, col("doc_id").asc)
      .limit(rrfOut)
  }

  val retrieveRrfSql: String = {
    val bm25 = TextStats.bm25Sql()
    "WITH lexr AS (SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id ASC) AS r " +
      s"FROM ($bm25) lx), " +
      "rvs AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings), " +
      "rq AS (SELECT v AS va FROM rvs WHERE vec_id = 0), " +
      "rsc AS (SELECT c.vec_id AS doc_id, " +
      s"round($cosSqlExpr, 6) AS score " +
      "FROM (SELECT vec_id, v AS vb FROM rvs WHERE vec_id <> 0) c(vec_id, vb) CROSS JOIN rq), " +
      s"dtop AS (SELECT doc_id, score FROM rsc ORDER BY score DESC, doc_id ASC LIMIT $rrfTopN), " +
      "denr AS (SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id ASC) AS r FROM dtop), " +
      "u AS (SELECT doc_id, 'lex' AS leg, r FROM lexr UNION ALL SELECT doc_id, 'dense' AS leg, r FROM denr), " +
      "f AS (SELECT doc_id, CAST(coalesce(max(CASE WHEN leg = 'lex' THEN r END), 0) AS BIGINT) AS lex_rank, " +
      "CAST(coalesce(max(CASE WHEN leg = 'dense' THEN r END), 0) AS BIGINT) AS dense_rank, " +
      s"CAST(sum(1000000000 // ($rrfK + r)) AS BIGINT) AS rrf_nanos FROM u GROUP BY doc_id) " +
      "SELECT doc_id, lex_rank, dense_rank, rrf_nanos FROM f " +
      s"ORDER BY rrf_nanos DESC, doc_id ASC LIMIT $rrfOut"
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "embed_pca" -> { (s, dir) => pcaTop(s, Tables.embeddings(s, dir)) },
    "embed_pca_k" -> { (s, dir) => pcaTopK(s, Tables.embeddings(s, dir)) },
    "embed_whiten" -> { (s, dir) => pcaWhiten(s, Tables.embeddings(s, dir)) },
    "decontam_semantic" -> { (s, dir) => decontamSemantic(Tables.embeddings(s, dir)) },
    "dedup_semantic" -> { (s, dir) => semanticDupes(Tables.embeddings(s, dir)) },
    "sim_ivf_topk" -> { (s, dir) => ivfTopk(Tables.embeddings(s, dir)) },
    "sim_ivf_layout" -> { (s, dir) => ivfLayoutTopk(Tables.embeddings(s, dir)) },
    "sim_ivf_serve" -> { (s, dir) => ivfServeTopk(Tables.embeddings(s, dir)) },
    "sim_ivfpq_serve" -> { (s, dir) => ivfPqServeTopk(Tables.embeddings(s, dir)) },
    "sim_pq_topk" -> { (s, dir) => pqTopk(Tables.embeddings(s, dir)) },
    "sim_ivfpq_topk" -> { (s, dir) => ivfPqTopk(Tables.embeddings(s, dir)) },
    "sim_ivfpq_trained" -> { (s, dir) => ivfPqTrainedGate(Tables.embeddings(s, dir)) },
    "sim_topk" -> { (s, dir) => topk(Tables.embeddings(s, dir)) },
    "retrieve_rrf" -> { (s, dir) =>
      retrieveRrf(Tables.documents(s, dir), Tables.embeddings(s, dir))
    },
    "sim_filtered_topk" -> { (s, dir) => filteredTopk(Tables.embeddings(s, dir)) },
    "sim_buckets" -> { (s, dir) =>
      // bucket histogram: scale-path observability (bucket, n vectors);
      // 8-plane instance — the literal-SQL-replayable oracle config
      lshBuckets(Tables.embeddings(s, dir), planes)
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_vecs"))
    },
    // oracle instance: 8 planes / 2×4-bit bands. Deliberately NOT the
    // scale-default 64-plane banding: the gate corpus has no
    // near-identical pairs (max pairwise cos ≈ 0.51 at sf0.01), so the
    // wide-band config would return 0 rows — a vacuous gate. The
    // narrow instance keeps the candidates→verify pipeline exercised;
    // embedDupesSql is parameterized, so either config stays
    // SQL-replayable.
    "dedup_embed" -> { (s, dir) => embedDupes(Tables.embeddings(s, dir), 0.4, planes, 2) },
    "dedup_semdedup" -> { (s, dir) => semDedup(Tables.embeddings(s, dir)) },
    "sim_knn_graph" -> { (s, dir) => knnGraph(Tables.embeddings(s, dir)) },
    "sim_graph_serve" -> { (s, dir) => graphServe(Tables.embeddings(s, dir)) },
    "sample_d4" -> { (s, dir) => sampleD4(Tables.embeddings(s, dir), Tables.documents(s, dir)) },
    // r16 gate-budget review (r15 verdict #3): sim_graph_hier_sq8 is the
    // ONLY gated hier-walk form — it builds the same hierarchy as
    // graphServeHier and additionally exercises the quantized serving
    // tier; exact≡sq8 walk parity is pinned in ScaleSpec. Likewise the
    // brute sq8Topk gate is retired for sim_sq8_ivf (the scale form);
    // brute-vs-exact recall stays pinned in ScaleSpec.
    "sim_graph_hier_sq8" -> { (s, dir) => graphServeHierSq8(Tables.embeddings(s, dir)) },
    "sim_sq8_ivf" -> { (s, dir) => sq8TopkIvf(Tables.embeddings(s, dir)) },
    "sim_communities" -> { (s, dir) => lpCommunities(Tables.embeddings(s, dir)) }
  )

  def oracleSql: Map[String, String] = Map(
    "embed_pca" -> pcaSql,
    "embed_pca_k" -> pcaKSql(),
    "embed_whiten" -> pcaWhitenSql(),
    "decontam_semantic" -> decontamSemanticSql(),
    "sim_topk" -> topkSql,
    "retrieve_rrf" -> retrieveRrfSql,
    "sim_filtered_topk" -> filteredTopkSql(),
    "sim_buckets" -> bucketsSql,
    "dedup_semantic" -> semanticDupesSql(),
    "sim_ivf_topk" -> ivfTopkSql(),
    "sim_ivf_layout" -> ivfLayoutTopkSql(),
    // serving through the layout must reproduce the in-memory IVF
    // answers exactly — the oracle is the multi-query IVF SQL verbatim
    "sim_ivf_serve" -> ivfTopkSql(),
    // the packed-codes store must reproduce the in-memory IVF+PQ
    // answers exactly (codes round-trip as exact BIGINTs)
    "sim_ivfpq_serve" -> ivfPqTopkSql(),
    "sim_pq_topk" -> pqTopkSql,
    "sim_ivfpq_topk" -> ivfPqTopkSql(),
    "sim_ivfpq_trained" -> ivfPqTrainedSql(),
    "dedup_embed" -> embedDupesSql(0.4, planes, 2),
    "dedup_semdedup" -> semDedupSql(),
    "sim_knn_graph" -> knnGraphSql(),
    "sim_graph_serve" -> graphServeSql(),
    "sample_d4" -> sampleD4Sql(),
    "sim_graph_hier_sq8" -> graphServeHierSq8Sql(),
    "sim_sq8_ivf" -> sq8TopkIvfSql(),
    "sim_communities" -> lpCommunitiesSql()
  )
}
