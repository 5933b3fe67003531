package perfbench

import java.io.File
import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.{CwtOps, FirOps, HilbertOps, IirOps, ResampleOps, SpectraOps}
import graft.sources.Edf

/** eeg_dsp: a filter bank over one multi-channel EDF recording.
  *
  * Setup writes a seeded EEG-like recording (rhythms + 1/f-like noise +
  * spikes) as EDF. Each pass decodes the EDF once (`Edf.readSpark`,
  * checkpointed channel-partitioned and sorted, as `Signal.long` hands
  * the gate queries their input), runs eight kernels over it and
  * exports the low-passed montage back to EDF, one two-channel
  * recording per write op, between the kernels. Time goes to
  * per-sample kernels and codegen; there are no iterative rounds.
  */
final class Eeg(spark: SparkSession, channels: Int, samples: Int, seed: Long) extends Workload {
  import spark.implicits._

  private val fs = 100.0 // the sampling rate graft's filter designs assume
  private val spr = 100 // samples per EDF record (1 s)
  require(samples % spr == 0)

  private var dir: String = _
  private var edfPath: String = _
  private var sig: DataFrame = _

  def recordsPerPass: Long = channels.toLong * samples * 8 // samples x kernels

  /** Seeded EEG-like channels: three rhythms with random amplitude and
    * phase, AR(1) background and sparse spikes.
    */
  private def generate(): Seq[(String, Array[Double])] = {
    val rng = new SplittableRandom(seed)
    (0 until channels).map { c =>
      val freqs = Array(4 + 3 * rng.nextDouble(), 8 + 4 * rng.nextDouble(), 15 + 15 * rng.nextDouble())
      val amps = Array.fill(3)(5 + 15 * rng.nextDouble())
      val phases = Array.fill(3)(2 * math.Pi * rng.nextDouble())
      var ar = 0.0
      val x = Array.tabulate(samples) { n =>
        ar = 0.95 * ar + 2.0 * gauss(rng)
        val t = n / fs
        var v = ar
        var k = 0
        while (k < 3) { v += amps(k) * math.sin(2 * math.Pi * freqs(k) * t + phases(k)); k += 1 }
        if (rng.nextInt(2000) == 0) v += 60 * (if (rng.nextBoolean()) 1 else -1)
        v
      }
      s"ch$c" -> x
    }
  }

  def setup(workDir: String): Unit = {
    dir = workDir
    new File(dir).mkdirs()
    edfPath = s"$dir/recording.edf"
    Edf.write(edfPath, generate(), fs, spr)
    sig = null
  }

  /** Writes the decoded signal as an `events`-shaped parquet (the
    * table every DSP oracle reads) and returns its path.
    */
  def oracleInput(): String = {
    val out = s"$dir/events.parquet"
    decode()
      .select(col("channel").as("event_type"), col("n").as("event_id"), col("x").as("value"))
      .coalesce(1)
      .write
      .mode("overwrite")
      .parquet(out)
    out
  }

  private def decode(): DataFrame =
    Edf
      .readSpark(spark, edfPath)
      .select(col("channel"), col("n"), col("x"))
      .repartition(col("channel"))
      .sortWithinPartitions(col("channel"), col("n"))

  private def rounded(df: DataFrame): DataFrame =
    df.select(col("channel"), col("n"), round(col("y"), 6).as("y"))

  private def expectRows(n: Long)(d: Digest): Option[String] =
    if (d.rows == n) None else Some(s"expected $n rows, got ${d.rows}")

  private val n = channels.toLong * samples

  def pass(i: Int): Seq[Op] = {
    Workload.interleave(kernels, (0 until channels / 2).map(exportOp))
  }

  private def kernels: Seq[Op] = Seq(
    Op(
      "edf_read",
      "sources",
      write = false,
      () => { sig = decode().localCheckpoint(); sig },
      expectRows(n)
    ),
    Op("fir_same", "operators", write = false, () => FirOps.same(sig, FirOps.hannBp),
      expectRows(n), Some(FirOps.sameSql(FirOps.hannBp))),
    Op("fir_fast", "operators", write = false, () => FirOps.sameFast(sig, FirOps.kaiserLp),
      expectRows(n), Some(FirOps.sameSql(FirOps.kaiserLp))),
    Op("iir_filtfilt", "operators", write = false,
      () => rounded(IirOps.sosfiltfilt(sig, IirOps.butterLp, presorted = true)), expectRows(n),
      reference = true),
    Op("resample_3_2", "operators", write = false,
      () => ResampleOps.polyResample(sig, 3, 2, ResampleOps.hRes32, presorted = true),
      expectRows(channels.toLong * ((samples * 3L + 1) / 2)), Some(ResampleOps.resampleSql(3, 2, ResampleOps.hRes32))),
    Op("psd_welch", "operators", write = false, () => SpectraOps.psdWelch(sig, presorted = true),
      d => if (d.rows > 0) None else Some("empty"), Some(SpectraOps.psdWelchSql())),
    Op("stft", "operators", write = false, () => SpectraOps.stft(sig, presorted = true),
      d => if (d.rows > 0) None else Some("empty"), Some(SpectraOps.stftSql)),
    Op("hilbert_env", "operators", write = false, () => HilbertOps.hilbertEnv(sig, presorted = true),
      expectRows(n), Some(HilbertOps.hilbertEnvSql)),
    Op("cwt_morlet", "operators", write = false, () => CwtOps.cwtMorlet(sig, presorted = true),
      expectRows(n), Some(CwtOps.cwtMorletSql))
  )

  /** Writes channels 2k and 2k+1, low-passed, as EDF recording `part<k>`
    * and returns the (file, bytes) listing.
    */
  private def exportOp(k: Int): Op = {
    val chans = Seq(s"ch${2 * k}", s"ch${2 * k + 1}")
    val out = s"$dir/export$k"
    Op("edf_export", "sources", write = true, () => {
      deleteTree(new File(out))
      val filtered = IirOps
        .sosfiltfilt(sig.filter(col("channel").isin(chans: _*)), IirOps.butterLp, presorted = true)
        .select(lit(s"part$k").as("recording"), col("channel"), col("n"), col("y").as("x"))
      Edf.writeSpark(filtered, out, fs, spr)
      val files = Option(new File(out).listFiles()).getOrElse(Array.empty[File]).filter(_.getName.endsWith(".edf"))
      files.toSeq.map(f => (f.getName, f.length())).toDF("file", "bytes")
    }, d => {
      val want = Digest.ofRows(
        spark,
        StructType(Seq(StructField("file", StringType), StructField("bytes", LongType))),
        Seq(Row(s"part$k.edf", 256L * 3 + 2L * 2 * samples))
      )
      if (d.key == want.key) None else Some(s"export of $chans is not one EDF file of the expected size")
    }, stable = false)
  }

  /** Reference zero-phase IIR (scipy sosfiltfilt, padtype=None) in plain
    * loops; returns Spark-computed stats of its rounded output so
    * run.py can compare them with the op's stats.
    */
  def referenceStats(): Map[String, Map[String, Double]] = {
    val rows = decode().collect().groupBy(_.getString(0)).toSeq.sortBy(_._1).flatMap { case (ch, rs) =>
      val x = rs.sortBy(_.getLong(1)).map(_.getDouble(2))
      val y = Eeg.sosfiltfilt(IirOps.butterLp, x)
      y.indices.map(i => (ch, i.toLong, y(i)))
    }
    val df = rounded(rows.toDF("channel", "n", "y"))
    val aggs = Digest.statSql(df.schema).map { case (k, e) => expr(e).as(k) }
    val r = df.agg(count(lit(1)).as("rows"), aggs: _*).head()
    val stats = Digest.statSql(df.schema).map(_._1).zipWithIndex.map { case (k, i) => k -> r.getDouble(i + 1) }
    Map("iir_filtfilt" -> (stats.toMap + ("rows" -> r.getLong(0).toDouble)))
  }
}

object Eeg {

  /** Direct-form II transposed cascade, forward then backward, with
    * the steady-state initial conditions scaled by the edge sample.
    */
  def sosfiltfilt(sos: Array[Array[Double]], x: Array[Double]): Array[Double] = {
    val zi = graft.core.Iir.sosfiltZi(sos)
    def pass(in: Array[Double]): Array[Double] = {
      val x0 = in(0)
      val z = zi.map(_.map(_ * x0))
      in.map { v =>
        var s = v
        var k = 0
        while (k < sos.length) {
          val b = sos(k)
          val y = b(0) * s + z(k)(0)
          z(k)(0) = b(1) * s - b(4) * y + z(k)(1)
          z(k)(1) = b(2) * s - b(5) * y
          s = y
          k += 1
        }
        s
      }
    }
    pass(pass(x).reverse).reverse
  }
}

private[perfbench] object gauss {
  def apply(rng: SplittableRandom): Double = {
    // Box-Muller; one draw per call keeps the stream simple to replay
    val u = math.max(rng.nextDouble(), 1e-300)
    math.sqrt(-2 * math.log(u)) * math.cos(2 * math.Pi * rng.nextDouble())
  }
}

private[perfbench] object deleteTree {
  def apply(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty[File]).foreach(deleteTree(_))
    f.delete()
    ()
  }
}
