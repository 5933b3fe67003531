package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.functions.Fft
import graft.operators.{FirOps, SpectraOps}

class FftSpec extends AnyFunSuite {

  test("fft matches direct DFT on random input") {
    val rnd = new scala.util.Random(11)
    val n = 64
    val x = Array.fill(n)(rnd.nextDouble() * 2 - 1)
    val got = Fft.rfftMag2(x)
    for (f <- 0 to n / 2) {
      var re = 0.0; var im = 0.0
      for (t <- 0 until n) {
        re += x(t) * math.cos(2 * math.Pi * f * t / n)
        im -= x(t) * math.sin(2 * math.Pi * f * t / n)
      }
      assert(math.abs(got(f) - (re * re + im * im)) < 1e-9, s"bin $f")
    }
  }

  test("fft convolution matches direct convolution") {
    val rnd = new scala.util.Random(5)
    val x = Array.fill(100)(rnd.nextDouble())
    val h = Array.fill(25)(rnd.nextDouble() - 0.5)
    val got = Fft.convolve(x, h)
    assert(got.length == 124)
    for (j <- got.indices) {
      val want = h.indices
        .map(k => if (j - k >= 0 && j - k < x.length) h(k) * x(j - k) else 0.0)
        .sum
      assert(math.abs(got(j) - want) < 1e-10, s"j=$j")
    }
  }
}

class FastPathSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private lazy val sig = core.Signal.long(spark, sf)

  test("segmented overlap-add conv equals the lag-sum path") {
    val h = FirOps.kaiserLp
    val slow = FirOps
      .same(sig, h)
      .collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getDouble(2))
      .toMap
    val fast = FirOps
      .sameFast(sig, h, segLen = 128)
      .collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getDouble(2))
      .toMap
    assert(fast.keySet == slow.keySet, s"row sets differ: ${fast.size} vs ${slow.size}")
    fast.foreach { case (k, v) => assert(math.abs(v - slow(k)) <= 1e-5, s"$k: $v vs ${slow(k)}") }
  }

  test("long-scale CWT routes through SegConv and equals the lag-sum bank") {
    import graft.operators.CwtOps
    val s = CwtOps.longScale
    val (re, im) = CwtOps.kernel(s)
    assert(re.length > 128, s"scale $s must be in the long-kernel regime (${re.length} taps)")
    def toMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val reRef = toMap(FirOps.same(sig, re))
    val imRef = toMap(FirOps.same(sig, im))
    val got = toMap(CwtOps.cwtMorletLong(sig, s))
    assert(got.keySet == reRef.keySet, s"row sets differ: ${got.size} vs ${reRef.size}")
    got.foreach { case (k, v) =>
      val ref = { val a = reRef(k); val b = imRef(k); a * a + b * b }
      assert(math.abs(v - ref) <= math.max(1e-4, 1e-5 * ref), s"$k: $v vs $ref")
    }
    // and the plan must carry the FFT expression, not a 257-term lag-sum
    val plan = CwtOps.cwtMorletLong(sig, s).queryExecution.executedPlan.toString.toLowerCase
    assert(plan.contains("segconv"), "SegConv not in the physical plan")
  }

  test("sameFast and cwtMorletLong keep same's row set when channel lengths differ") {
    import graft.operators.CwtOps
    // no length a multiple of either segLen; channel b is shorter than one segment
    val lens = Seq("a" -> 450, "b" -> 77, "c" -> 1000)
    val rnd = new scala.util.Random(19)
    val rows = for ((ch, len) <- lens; n <- 0 until len) yield (ch, n.toLong, rnd.nextGaussian())
    val uneven = spark.sparkContext.parallelize(rnd.shuffle(rows), 3).toDF("channel", "n", "x")
    def keys(df: org.apache.spark.sql.DataFrame) =
      df.select("channel", "n").collect().map(r => (r.getString(0), r.getLong(1))).toSeq.sorted
    val want = keys(FirOps.same(uneven, FirOps.kaiserLp))
    assert(want.size == lens.map(_._2).sum)
    assert(keys(FirOps.sameFast(uneven, FirOps.kaiserLp, segLen = 128)) == want)
    assert(keys(CwtOps.cwtMorletLong(uneven, segLen = 300)) == want)
  }

  test("fft welch equals the inner-product welch at nfft=64") {
    // run the fast path at the slow path's nfft for comparability
    val slow = SpectraOps
      .psdWelch(sig)
      .select("channel", "f", "psd")
      .collect()
      .map(r => (r.getString(0), r.getAs[Number](1).longValue()) -> r.getDouble(2))
      .toMap
    val fast = SpectraOps
      .psdWelchFast(sig, 64)
      .select("channel", "f", "psd")
      .collect()
      .map(r => (r.getString(0), r.getAs[Number](1).longValue()) -> r.getDouble(2))
      .toMap
    assert(fast.keySet == slow.keySet)
    fast.foreach { case (k, v) => assert(math.abs(v - slow(k)) <= 1e-4, s"$k: $v vs ${slow(k)}") }
  }

  test("ByteRemap/ByteUnremap codegen equals the interpreted eval and the String kernels") {
    import org.apache.spark.sql.functions._
    // identity ASCII, kept Latin-1, 256+n bytes, CJK, supplementary plane
    val samples = Seq("plain ascii", " café żółw", "日本語 naïve", "emoji 😀 tail", "")
    // repartition so ConvertToLocalRelation can't fold the projection
    // driver-side — the expressions must run on executors, codegen'd
    val df = samples.zipWithIndex.map { case (s, i) => (i.toLong, s) }.toDF("id", "s").repartition(2)
    val got = df
      .select(
        col("id"),
        graft.functions.exprs.byte_remap(col("s")).as("r"),
        graft.functions.exprs.byte_unremap(graft.functions.exprs.byte_remap(col("s"))).as("rt")
      )
      .collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getString(2)))
      .toMap
    for ((s, i) <- samples.zipWithIndex) {
      assert(got(i.toLong)._1 == graft.llm.Bpe.remapBytes(s), s"remap drift on '$s'")
      assert(got(i.toLong)._2 == s, s"unremap identity broke on '$s'")
    }
    // the projection must be codegen-capable: the FINAL adaptive plan
    // (post-execution) shows a WholeStageCodegen span (the `*(n)`
    // prefix) on the Project — a CodegenFallback expression would
    // leave the Project bare
    val proj = df.select(graft.functions.exprs.byte_remap(col("s")))
    proj.collect()
    val plan = proj.queryExecution.executedPlan.toString
    assert(
      "\\*\\(\\d+\\) Project".r.findFirstIn(plan).isDefined,
      s"byte remap fell out of whole-stage codegen:\n$plan"
    )
  }
}
