package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame

import graft.functions.Fft
import graft.operators.{FirOps, ResampleOps, SpectraOps}

/** The channel scan's block handoff, seen through the kernels that ride
  * it: every output index appears exactly once, at its position, when a
  * block boundary falls mid-channel — including the boundaries where a
  * kernel has drained its whole window (no halo left to carry).
  */
class ChannelScanSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private def channel(name: String, xs: Array[Double]): DataFrame =
    xs.zipWithIndex.map { case (v, i) => (name, i.toLong, v) }.toSeq.toDF("channel", "n", "x")

  /** A deterministic channel of `cnt` samples, collected back so the
    * local references read exactly the values Spark scans.
    */
  private def longChannel(name: String, cnt: Int): (DataFrame, Array[Double]) = {
    val df = spark
      .range(cnt)
      .selectExpr(s"'$name' AS channel", "id AS n", "sin(id * 0.37) + id % 7 AS x")
    (df, df.orderBy("n").select("x").as[Double].collect())
  }

  test("polyResample with a 1-tap kernel and 4-sample blocks emits every n once, in place") {
    // taps = 1 keeps no halo, so each block drains the window mid-channel
    val xs = Array.tabulate(23)(i => i * 1.5 - 7.0)
    for ((l, m) <- Seq((1, 1), (1, 2), (3, 2))) {
      val got = ResampleOps
        .polyResample(channel("c0", xs), l, m, Array(1.0), blockSizeHint = 1)
        .collect()
        .map(r => r.getLong(1) -> r.getDouble(2))
      val want = (0 until (xs.length * l + m - 1) / m).map { j =>
        val g = j.toLong * m // grid position of output j; the stuffed grid holds x at multiples of L
        j.toLong -> (if (g % l == 0) l * xs((g / l).toInt) else 0.0)
      }
      assert(got.length == want.length, s"L=$l M=$m rows")
      assert(got.map(_._1).distinct.length == want.length, s"L=$l M=$m: every n exactly once")
      assert(got.toMap == want.toMap, s"L=$l M=$m values at their n")
    }
  }

  /** Every frame of `sig` against the periodogram of the same frame cut
    * locally from `xs` (extended as the scan extends it).
    */
  private def checkFrames(sig: DataFrame, xs: Array[Double], boundary: Boolean, cfg: SpectraOps.WelchCfg): Unit = {
    val head = if (boundary) cfg.nfft / 2 else 0
    val extLen =
      if (boundary) ((xs.length + cfg.hop - 1) / cfg.hop) * cfg.hop + cfg.nfft else xs.length
    val ext = new Array[Double](extLen)
    System.arraycopy(xs, 0, ext, head, xs.length)
    val nFrames = (extLen - cfg.nfft) / cfg.hop + 1
    val kernel = new Fft.Periodogram(cfg.win, cfg.detrend, cfg.norm, doubled = true)
    val got = SpectraOps
      .periodograms(sig, boundary, doubled = true, cfg)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getInt(2)) -> r.getDouble(3))
    val nf = cfg.nfft / 2 + 1
    assert(got.length == nFrames * nf, "rows: one per frame and bin")
    val frames = got.map(_._1._2).distinct.sorted
    assert(
      frames.length == nFrames && frames.head == 0L && frames.last == nFrames - 1L,
      s"every (channel, s) exactly once: ${frames.length} distinct s of $nFrames frames"
    )
    val byKey = got.toMap
    for (s <- 0 until nFrames) {
      val want = kernel(java.util.Arrays.copyOfRange(ext, s * cfg.hop, s * cfg.hop + cfg.nfft))
      for (f <- 0 until nf) assert(byKey(("c0", s.toLong, f)) == want(f), s"frame $s bin $f")
    }
  }

  test("Welch frames past the first 65,536-sample block keep their frame index") {
    // hop == nfft drains the window exactly at the 65,536-sample block
    // boundary: 1,093 frames, all of them labelled, at their samples
    val (sig, xs) = longChannel("c0", 70000)
    checkFrames(sig, xs, boundary = false, SpectraOps.WelchCfg(nfft = 64, hop = 64))
  }

  test("STFT frames with boundary zeros stream across the block boundary of a long channel") {
    val (sig, xs) = longChannel("c0", 70000)
    checkFrames(sig, xs, boundary = true, SpectraOps.WelchCfg())
  }

  test("segAssemble emits every segment of a long channel once, with its samples and halos") {
    val (sig, xs) = longChannel("c0", 70000)
    for ((l, segLen) <- Seq((0, 1024), (3, 1000))) {
      val got = FirOps
        .segAssemble(sig, l, segLen)
        .collect()
        .map(r => r.getLong(1) -> (r.getInt(2), r.getSeq[Double](3)))
      val nSeg = (xs.length + segLen - 1) / segLen
      assert(got.length == nSeg, s"l=$l rows")
      val ids = got.map(_._1).distinct.sorted
      assert(
        ids.length == nSeg && ids.head == 0L && ids.last == nSeg - 1L,
        s"l=$l: every segment exactly once: ${ids.length} distinct s of $nSeg"
      )
      for ((s, (len, seg)) <- got) {
        assert(len == math.min(segLen, xs.length - s * segLen), s"l=$l segment $s len")
        val want = (0 until segLen + 2 * l).map { i =>
          val n = s * segLen - l + i
          if (n >= 0 && n < xs.length) xs(n.toInt) else 0.0
        }
        assert(seg == want, s"l=$l segment $s samples")
      }
    }
  }

  test("source audit: channel-sorted streaming goes through ChannelScan only") {
    val root = new java.io.File("src/main/scala/graft")
    require(root.isDirectory, s"source tree not found from ${new java.io.File(".").getAbsolutePath}")
    def files(d: java.io.File): Seq[java.io.File] =
      d.listFiles().toSeq.flatMap(f => if (f.isDirectory) files(f) else Seq(f).filter(_.getName.endsWith(".scala")))
    def read(f: java.io.File): String = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
    val all = files(root)
    assert(all.exists(_.getName == "ChannelScan.scala"))
    val boxed = files(new java.io.File(root, "operators")).filter { f =>
      val src = read(f).replaceAll("\\s", "")
      Seq("ArrayBuffer[Double]", "ArrayBuffer[Long]", "ArrayBuffer.empty[Double]", "ArrayBuffer.empty[Long]")
        .exists(src.contains)
    }
    assert(boxed.isEmpty, s"boxed sample buffers in ${boxed.map(_.getName).mkString(", ")}")
    val sort = """repartition(col("channel")).sortWithinPartitions(col("channel"),col("n"))"""
    val sorting = all.filter(f => read(f).replaceAll("\\s", "").contains(sort)).map(_.getName)
    assert(sorting == Seq("ChannelScan.scala"), s"channel sort outside ChannelScan: ${sorting.mkString(", ")}")
  }
}
