package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Signal

/** Independent Component Analysis for multi-channel EEG — the artifact
  * removal step (ocular/muscle) every practical EEG pipeline runs
  * between the reference's filtering and spectral stages (beyond the
  * reference surface, like `car_reref`/`detect_peaks`; openseize
  * delegates this to MNE-style tooling).
  *
  * Algorithm: FastICA with tanh contrast and deflation (Hyvärinen &
  * Oja 2000) on whitened per-sample channel vectors.
  *
  * Spark shape (the kmeans‖ / embed_pca precedent for iterative
  * estimators): the per-sample channel vector table is built with ONE
  * (n)-keyed shuffle (the same inherent channel→sample transpose
  * `car_reref` pays) and persisted for the whole fit; mean and
  * covariance are one tiny aggregate each (c and c² cells); the 8×8
  * eigendecomposition, whitening, and the per-iteration fixed-point
  * update run driver-side on collected c-vectors — each FastICA
  * iteration is ONE distributed aggregate of (z·tanh(wᵀz), tanh′ mean)
  * over the persisted table, never more than c+1 doubles back to the
  * driver. Nothing is ever all-pairs; the component count is the
  * channel count (≤ dozens), so every driver-side object is tiny.
  *
  * Unmixing is exact linear algebra once fitted: sources and
  * reconstructions are row-local literal-matrix projections (no
  * shuffle beyond the one transpose).
  */
object IcaOps {

  /** Fitted model: x̂(n) = mu + mix · s(n), s(n) = unmix · (x(n) − mu).
    * `unmix` rows are the estimated independent directions (k×c);
    * `mix` is its right-inverse restricted to the fitted components
    * (c×k). `channels` fixes the vector component order (sorted).
    */
  final case class IcaModel(
      channels: Seq[String],
      mu: Array[Double],
      unmix: Array[Array[Double]],
      mix: Array[Array[Double]]
  )

  // ---- tiny dense linear algebra (c ≤ dozens; driver-side) ----

  private def matMul(a: Array[Array[Double]], b: Array[Array[Double]]): Array[Array[Double]] = {
    val (n, k, m) = (a.length, b.length, b(0).length)
    Array.tabulate(n, m) { (i, j) =>
      var s = 0.0; var t = 0; while (t < k) { s += a(i)(t) * b(t)(j); t += 1 }; s
    }
  }

  private def transpose(a: Array[Array[Double]]): Array[Array[Double]] =
    Array.tabulate(a(0).length, a.length)((i, j) => a(j)(i))

  /** Jacobi eigendecomposition of a symmetric matrix: (values, vectors
    * as COLUMNS). Deterministic sweep order; converges quadratically
    * for the tiny channel-count matrices this sees.
    */
  private def jacobiEig(m0: Array[Array[Double]]): (Array[Double], Array[Array[Double]]) = {
    val n = m0.length
    val a = m0.map(_.clone())
    val v = Array.tabulate(n, n)((i, j) => if (i == j) 1.0 else 0.0)
    var sweep = 0
    while (sweep < 100 && {
        var off = 0.0
        for (i <- 0 until n; j <- i + 1 until n) off += a(i)(j) * a(i)(j)
        off > 1e-22
      }) {
      for (p <- 0 until n; q <- p + 1 until n if math.abs(a(p)(q)) > 1e-15) {
        val theta = 0.5 * math.atan2(2.0 * a(p)(q), a(q)(q) - a(p)(p))
        val (c, s) = (math.cos(theta), math.sin(theta))
        for (i <- 0 until n) {
          val (aip, aiq) = (a(i)(p), a(i)(q))
          a(i)(p) = c * aip - s * aiq
          a(i)(q) = s * aip + c * aiq
        }
        for (i <- 0 until n) {
          val (api, aqi) = (a(p)(i), a(q)(i))
          a(p)(i) = c * api - s * aqi
          a(q)(i) = s * api + c * aqi
        }
        for (i <- 0 until n) {
          val (vip, viq) = (v(i)(p), v(i)(q))
          v(i)(p) = c * vip - s * viq
          v(i)(q) = s * vip + c * viq
        }
      }
      sweep += 1
    }
    (Array.tabulate(n)(i => a(i)(i)), v)
  }

  /** Gauss–Jordan inverse of a small square matrix. */
  private def matInv(m0: Array[Array[Double]]): Array[Array[Double]] = {
    val n = m0.length
    val a = m0.map(_.clone())
    val inv = Array.tabulate(n, n)((i, j) => if (i == j) 1.0 else 0.0)
    for (col <- 0 until n) {
      var piv = col
      for (r <- col + 1 until n) if (math.abs(a(r)(col)) > math.abs(a(piv)(col))) piv = r
      val (t1, t2) = (a(col), inv(col)); a(col) = a(piv); a(piv) = t1; inv(col) = inv(piv); inv(piv) = t2
      val d = a(col)(col)
      require(math.abs(d) > 1e-12, "singular unmixing matrix")
      for (j <- 0 until n) { a(col)(j) /= d; inv(col)(j) /= d }
      for (r <- 0 until n if r != col) {
        val f = a(r)(col)
        if (f != 0.0) for (j <- 0 until n) { a(r)(j) -= f * a(col)(j); inv(r)(j) -= f * inv(col)(j) }
      }
    }
    inv
  }

  /** Per-sample channel vectors (n, v) in sorted-channel order — the
    * one inherent transpose shuffle, shared by fit and reconstruction.
    * Samples missing any channel (dropped/trimmed rows — routine in
    * EEG) are FILTERED, not emitted short: a 7-element vector would
    * silently shift every later channel into the wrong slot.
    */
  private def vectors(sig: DataFrame, nChannels: Int): DataFrame =
    sig
      .groupBy(col("n"))
      .agg(sort_array(collect_list(struct(col("channel"), col("x")))).as("cs"))
      // size alone is not enough: a duplicated (channel, n) row plus one
      // missing channel still counts nChannels but shifts every later
      // channel into the wrong slot — require nChannels DISTINCT names
      .filter(
        size(col("cs")) === nChannels &&
          size(array_distinct(transform(col("cs"), e => e.getField("channel")))) === nChannels
      )
      .select(col("n"), transform(col("cs"), e => e.getField("x")).as("v"))

  /** `ds.reduce(f)` with the per-partition results merged on the driver
    * in partition order. `Dataset.reduce` merges them in task-completion
    * order, so the fitted model's last digits moved from run to run.
    */
  private def reduceInOrder[T: scala.reflect.ClassTag](ds: Dataset[T])(f: (T, T) => T): T =
    ds.rdd.mapPartitions(_.reduceOption(f).iterator).collect().reduce(f)

  /** Fit FastICA (tanh contrast, deflation) on the per-sample channel
    * vectors. `nComp` defaults to the channel count (square model —
    * required by [[removeComponents]]).
    */
  def fastIca(sig: DataFrame, nComp: Int = 0, maxIter: Int = 64, tol: Double = 1e-10): IcaModel = {
    val spark = sig.sparkSession
    import spark.implicits._
    val channels = sig.select(col("channel")).distinct().collect().map(_.getString(0)).sorted.toSeq
    val c = channels.length
    val k = if (nComp <= 0) c else math.min(nComp, c)
    val ds = vectors(sig, c).select(col("v")).as[Seq[Double]].map(_.toArray).persist()
    require(ds.take(1).nonEmpty, "no complete samples (every n must carry all channels)")
    // mean + covariance fused into ONE pass (cov = E[xxᵀ] − μμᵀ), so
    // the whiten-once materialization below adds no net data pass
    val (sumV, sumXX, cnt) =
      reduceInOrder(ds.map(v => (v, Array.tabulate(c * c)(idx => v(idx / c) * v(idx % c)), 1L))) { (a, b) =>
        (
          Array.tabulate(c)(i => a._1(i) + b._1(i)),
          Array.tabulate(c * c)(i => a._2(i) + b._2(i)),
          a._3 + b._3
        )
      }
    val nRows = cnt.toDouble
    val mu = sumV.map(_ / nRows)
    val cov = Array.tabulate(c * c)(idx => sumXX(idx) / nRows - mu(idx / c) * mu(idx % c))
    val (eig, vecs) = jacobiEig(Array.tabulate(c, c)((i, j) => cov(i * c + j)))
    // whitening W0 = D^(-1/2) Eᵀ (rows indexed by eigen-direction)
    val w0 = Array.tabulate(c, c) { (i, j) =>
      vecs(j)(i) / math.sqrt(math.max(eig(i), 1e-12))
    }
    def whiten(v: Array[Double]): Array[Double] = {
      val z = Array.tabulate(c)(i => v(i) - mu(i))
      Array.tabulate(c) { i =>
        var s = 0.0; var j = 0; while (j < c) { s += w0(i)(j) * z(j); j += 1 }; s
      }
    }
    // whiten ONCE: mu/w0 are fixed after the covariance step, so the
    // k·maxIter fixed-point aggregates must not redo the O(c²) per-row
    // projection each pass — the persisted table IS the whitened data
    val zs = ds.map(whiten).persist()
    zs.count()
    ds.unpersist()
    val sc = spark.sparkContext
    // deflation: one tanh fixed-point per component, Gram–Schmidt
    // against the components already found; deterministic basis init
    val ws = scala.collection.mutable.ArrayBuffer.empty[Array[Double]]
    for (p <- 0 until k) {
      var w = Array.tabulate(c)(i => if (i == p % c) 1.0 else 1e-3)
      def orthNorm(x: Array[Double]): Array[Double] = {
        val y = x.clone()
        ws.foreach { u =>
          var d = 0.0; var i = 0; while (i < c) { d += y(i) * u(i); i += 1 }
          i = 0; while (i < c) { y(i) -= d * u(i); i += 1 }
        }
        val nrm = math.sqrt(y.map(t => t * t).sum)
        require(nrm > 1e-12, s"deflation collapsed at component $p")
        y.map(_ / nrm)
      }
      w = orthNorm(w)
      var it = 0
      var done = false
      while (it < maxIter && !done) {
        val bw = sc.broadcast(w)
        // ONE distributed aggregate: (Σ z·tanh(wᵀz), Σ (1 − tanh²))
        val (sumZg, sumGp) = reduceInOrder(zs.map { z =>
          var d = 0.0; var i = 0; while (i < c) { d += bw.value(i) * z(i); i += 1 }
          val g = math.tanh(d)
          (Array.tabulate(c)(j => z(j) * g), 1.0 - g * g)
        }) { (a, b) => (Array.tabulate(c)(i => a._1(i) + b._1(i)), a._2 + b._2) }
        bw.destroy()
        val wNew = orthNorm(Array.tabulate(c)(i => sumZg(i) / nRows - (sumGp / nRows) * w(i)))
        var dot = 0.0
        for (i <- 0 until c) dot += wNew(i) * w(i)
        done = math.abs(math.abs(dot) - 1.0) < tol
        w = wNew
        it += 1
      }
      ws += w
    }
    zs.unpersist()
    // total unmixing U = W·W0 (k×c); mixing = U⁻¹ (square fit) or the
    // whitened-basis right-inverse restricted to the k components
    val wMat = ws.toArray
    val unmix = matMul(wMat, w0)
    val mix =
      if (k == c) matInv(unmix)
      else {
        // W is orthonormal in whitened space: U⁺ = W0⁻¹ Wᵀ with
        // W0⁻¹ = E D^(1/2)
        val w0inv = Array.tabulate(c, c)((i, j) => vecs(i)(j) * math.sqrt(math.max(eig(j), 1e-12)))
        matMul(w0inv, transpose(wMat))
      }
    IcaModel(channels, mu, unmix, mix)
  }

  /** Estimated sources as a long DataFrame (n, comp, s) — a row-local
    * literal-matrix projection off the one transpose shuffle.
    */
  def sources(sig: DataFrame, model: IcaModel): DataFrame = {
    val c = model.channels.length
    val comps = model.unmix.indices.map { p =>
      val terms = (0 until c).map(i =>
        lit(model.unmix(p)(i)) * (element_at(col("v"), i + 1) - lit(model.mu(i)))
      )
      struct(lit(p).as("comp"), terms.reduce(_ + _).as("s"))
    }
    vectors(sig, c)
      .select(col("n"), explode(array(comps: _*)).as("c"))
      .select(col("n"), col("c.comp").as("comp"), col("c.s").as("s"))
  }

  /** Reconstruct the multi-channel signal with the listed components
    * ZEROED — the artifact-removal step: x̂ = mu + mix · mask · s.
    * Output is the long (channel, n, x) layout the whole DSP stack
    * consumes, so the cleaned signal feeds straight back into filters
    * and spectra.
    */
  def removeComponents(sig: DataFrame, model: IcaModel, drop: Set[Int]): DataFrame = {
    val c = model.channels.length
    require(model.unmix.length == c, "removeComponents needs a square (nComp = channels) fit")
    // composite per-channel weights: R = mix · diag(keep) · unmix (c×c),
    // folded driver-side so the projection is one literal matrix
    val keep = model.unmix.indices.map(p => if (drop.contains(p)) 0.0 else 1.0)
    val r = Array.tabulate(c, c) { (i, j) =>
      var s = 0.0
      for (p <- model.unmix.indices) s += model.mix(i)(p) * keep(p) * model.unmix(p)(j)
      s
    }
    val rows = model.channels.indices.map { i =>
      val terms = (0 until c).map(j =>
        lit(r(i)(j)) * (element_at(col("v"), j + 1) - lit(model.mu(j)))
      )
      struct(lit(model.channels(i)).as("channel"), (lit(model.mu(i)) + terms.reduce(_ + _)).as("x"))
    }
    vectors(sig, c)
      .select(col("n"), explode(array(rows: _*)).as("r"))
      .select(col("r.channel").as("channel"), col("n"), col("r.x").as("x"))
  }

  // ---- gate queries: the PROJECTION half of ICA, hash-checked ----
  //
  // The fit itself stays spec-verified (IcaSpec planted-source recovery;
  // its eigen/fixed-point chain can't ride SQL CTEs), but once fitted
  // the unmixing is exact literal linear algebra — so the gate runs the
  // REAL fastIca fit on the gate signal, embeds the fitted matrices as
  // full-precision literals in BOTH plans (filter_response precedent:
  // term order left-associated and identical, so the arithmetic is
  // bit-identical cross-engine), and the oracle replays the projection.
  // The oracle SQL is rendered by the query run itself (Verify runs
  // every query BEFORE dumping oracle_sql.json); if it were ever dumped
  // unfitted the placeholder is invalid SQL — a loud gate FAIL, never a
  // silent pass.

  private val modelCache = new java.util.concurrent.ConcurrentHashMap[String, IcaModel]()
  @volatile private var cleanSqlVar: Option[String] = None
  @volatile private var sourcesSqlVar: Option[String] = None
  private val unfittedSql = "SELECT ica_gate_oracle_rendered_before_query_ran"

  /** The gate's component to zero — deterministic pick. */
  private val gateDrop = 0

  /** Gate-latency note (r11 verdict §4): the FIRST (ica_clean |
    * ica_sources) execution per dir pays the real FastICA fit inside
    * the gate (~16 s cold at sf0.1 — the fixed-point iterations are
    * per-iteration scans); the fitted model is cached here and shared
    * by BOTH gates, so the pair costs one fit and warm runs are
    * ~0.4 s. If per-query cold latency ever matters to the driver,
    * pre-warm by calling either query once in Verify/Bench setup — no
    * behavior change needed, the cache key is the data dir.
    */
  private def gateModel(spark: SparkSession, dir: String): IcaModel =
    modelCache.computeIfAbsent(dir, d => fastIca(Signal.long(spark, d)))

  /** Pivot CTE: one row per complete sample with x0..x{c-1} in sorted
    * channel order — the SQL twin of [[vectors]] (both its size and
    * distinct-channel guards).
    */
  private def vecCte(channels: Seq[String]): String = {
    val c = channels.length
    val pivot = channels.zipWithIndex
      .map { case (ch, j) => s"max(CASE WHEN channel = '$ch' THEN x END) AS x$j" }
      .mkString(", ")
    s"vec AS (SELECT n, $pivot FROM sig GROUP BY n " +
      s"HAVING count(*) = $c AND count(DISTINCT channel) = $c)"
  }

  private def cleanSqlFor(model: IcaModel): String = {
    import graft.core.Dsp
    val c = model.channels.length
    val keep = model.unmix.indices.map(p => if (p == gateDrop) 0.0 else 1.0)
    val r = Array.tabulate(c, c) { (i, j) =>
      var s = 0.0
      for (p <- model.unmix.indices) s += model.mix(i)(p) * keep(p) * model.unmix(p)(j)
      s
    }
    val selects = model.channels.indices.map { i =>
      val terms = (0 until c)
        .map(j => s"${Dsp.lit(r(i)(j))} * (x$j - ${Dsp.lit(model.mu(j))})")
        .mkString(" + ")
      s"SELECT '${model.channels(i)}' AS channel, n, " +
        s"${Dsp.round6Sql(s"${Dsp.lit(model.mu(i))} + ($terms)")} AS x FROM vec"
    }
    s"${Signal.sigCte}, ${vecCte(model.channels)} ${selects.mkString(" UNION ALL ")}"
  }

  private def sourcesSqlFor(model: IcaModel): String = {
    import graft.core.Dsp
    val c = model.channels.length
    val selects = model.unmix.indices.map { p =>
      val terms = (0 until c)
        .map(j => s"${Dsp.lit(model.unmix(p)(j))} * (x$j - ${Dsp.lit(model.mu(j))})")
        .mkString(" + ")
      s"SELECT n, $p AS comp, ${Dsp.round6Sql(terms)} AS s FROM vec"
    }
    s"${Signal.sigCte}, ${vecCte(model.channels)} ${selects.mkString(" UNION ALL ")}"
  }

  /** Artifact removal gate: fit on the gate signal, zero component
    * [[gateDrop]], emit the cleaned long-format signal.
    */
  def icaClean(spark: SparkSession, dir: String): DataFrame = {
    val model = gateModel(spark, dir)
    cleanSqlVar = Some(cleanSqlFor(model))
    removeComponents(Signal.long(spark, dir), model, Set(gateDrop))
      .select(col("channel"), col("n"), graft.core.Dsp.round6(col("x")).as("x"))
  }

  /** Estimated-sources gate: the unmixing projection itself. */
  def icaSources(spark: SparkSession, dir: String): DataFrame = {
    val model = gateModel(spark, dir)
    sourcesSqlVar = Some(sourcesSqlFor(model))
    sources(Signal.long(spark, dir), model)
      .select(col("n"), col("comp"), graft.core.Dsp.round6(col("s")).as("s"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ica_clean" -> { (s, dir) => icaClean(s, dir) },
    "ica_sources" -> { (s, dir) => icaSources(s, dir) }
  )
  def oracleSql: Map[String, String] = Map(
    "ica_clean" -> cleanSqlVar.getOrElse(unfittedSql),
    "ica_sources" -> sourcesSqlVar.getOrElse(unfittedSql)
  )
}
