package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites. */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession
      .builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // the test session IS the production session (the r13 Verify/
      // Bench discipline): production rules loaded, so gates that
      // exercise them (rollup_rewrite_serve) run here too
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sf: String = "/root/testdata/sf0.001"
}

class HarnessSpec extends AnyFunSuite {
  import TestSpark._
  import org.apache.spark.sql.functions.{col, expr}

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every oracleSql key has a queries entry") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracleSql without queries: $missing")
  }

  test("every query is oracle-checked except the known rows-only set") {
    // a new query silently missing its oracle would downgrade to the
    // driver's weak rows-only check — fail loudly here instead
    val rowsOnly = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(rowsOnly.isEmpty, s"unexpected rows-only queries: $rowsOnly")
  }

  test("all queries run non-empty at sf0.001") {
    // every column written, so a crash in a column count() would prune
    // fails here too
    SparkEntry.queries.foreach { case (name, fn) =>
      val n = Harness.written(fn(spark, sf))
      assert(n > 0, s"query $name returned 0 rows")
    }
  }

  // count() succeeds on this frame: Catalyst prunes the failing column
  private def prunedBoom =
    spark.range(3).select(col("id"), expr("assert_true(id < 0)").as("boom"))

  test("Harness.written evaluates the columns count() prunes") {
    assert(prunedBoom.count() == 3)
    intercept[Exception](Harness.written(prunedBoom))
    assert(Harness.written(spark.range(3).select(col("id"), expr("assert_true(id >= 0)").as("ok"))) == 3)
  }

  test("Bench.run reports every query that throws as failed, never as a timing") {
    val (timed, failed) = Bench.run(
      spark,
      sf,
      Seq(
        "good" -> ((s: SparkSession, _: String) => s.range(5).toDF("id")),
        "throws_at_build" -> ((_: SparkSession, _: String) => throw new IllegalStateException("build")),
        "throws_in_pruned_column" -> ((_: SparkSession, _: String) => prunedBoom)
      )
    )
    assert(failed == Seq("throws_at_build", "throws_in_pruned_column"))
    assert(timed.map(_._1) == Seq("good"))
    val t = timed.head._2
    assert(t.cold > 0 && t.warmMedian > 0 && t.exec.jobs > 0)
  }

  test("Harness.probe counts only its own block's jobs") {
    val sc = spark.sparkContext
    // another block's jobs, their listener events possibly still queued
    (1 to 5).foreach(_ => sc.parallelize(1 to 100, 4).count())
    val (n, one) = Harness.probe(spark)(sc.parallelize(1 to 10, 2).count())
    assert(n == 10 && one.jobs == 1 && one.stages == 1, one)
    val (_, three) = Harness.probe(spark)((1 to 3).foreach(_ => sc.parallelize(1 to 10, 2).count()))
    assert(three.jobs == 3, three)
  }

  test("Harness.probe records the generated-code compiles of its block") {
    // a literal no earlier plan used makes new generated code: a cache miss
    val k = 1.0 + (System.nanoTime() % 1000003L)
    val (_, run) = Harness.probe(spark)(spark.range(10).selectExpr(s"id * $k + 1.5 AS v").collect())
    assert(run.compiles >= 1 && run.compileSeconds > 0.0, run)
  }
}

class ProToolsSpec extends AnyFunSuite {
  import TestSpark._

  private def q(name: String) = SparkEntry.queries(name)(spark, sf)

  test("pro_standardize has ~zero mean and unit variance per channel") {
    import org.apache.spark.sql.functions._
    val stats = q("pro_standardize")
      .groupBy("channel")
      .agg(avg("z").as("m"), stddev_pop("z").as("s"))
      .collect()
    stats.foreach { r =>
      assert(math.abs(r.getDouble(1)) < 1e-4, s"mean ${r.getDouble(1)}")
      assert(math.abs(r.getDouble(2) - 1.0) < 1e-4, s"std ${r.getDouble(2)}")
    }
  }

  test("pro_pad adds exactly left+right zero samples per channel") {
    import org.apache.spark.sql.functions._
    val raw = core.Signal.long(spark, sf).groupBy("channel").count()
    val pad = q("pro_pad").groupBy("channel").count().withColumnRenamed("count", "pc")
    val joined = raw.join(pad, "channel").collect()
    joined.foreach(r => assert(r.getLong(2) == r.getLong(1) + 5))
    val zeros = q("pro_pad").filter(col("x") === 0.0).count()
    assert(zeros >= 5 * raw.count())
  }

  test("pro_extend: all four boundary modes match the scipy *_ext semantics") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // head slice is xs = 1..16 on one channel
    val sig = (0 until 16).map(i => ("c", i.toLong, (i + 1).toDouble)).toDF("channel", "n", "x")
    val out = operators.ProTools
      .proExtend(sig)
      .collect()
      .map(r => (r.getString(1), r.getLong(2)) -> r.getDouble(3))
      .toMap
    assert(out.size == 4 * 24, "4 modes x (16 + 2*4) rows")
    // interiors are passthrough in every mode
    Seq("zero", "edge", "even", "odd").foreach(m => assert(out((m, 7L)) == 8.0))
    assert(out(("zero", -1L)) == 0.0 && out(("zero", 19L)) == 0.0)
    assert(out(("edge", -3L)) == 1.0 && out(("edge", 17L)) == 16.0)
    // even: mirror about the end sample (x_out[-j] = x[j])
    assert(out(("even", -1L)) == 2.0 && out(("even", -4L)) == 5.0)
    assert(out(("even", 16L)) == 15.0 && out(("even", 19L)) == 12.0)
    // odd: 180-degree rotation about the end sample (2*x_edge - mirror)
    assert(out(("odd", -1L)) == 0.0 && out(("odd", -4L)) == -3.0)
    assert(out(("odd", 16L)) == 17.0 && out(("odd", 19L)) == 20.0)
  }

  test("pro_slice indices are dense from zero") {
    import org.apache.spark.sql.functions._
    val bad = q("pro_slice")
      .groupBy("channel")
      .agg(min("n").as("mn"), max("n").as("mx"), count(lit(1)).as("c"))
      .filter(col("mn") =!= 0 || col("mx") =!= col("c") - 1)
      .count()
    assert(bad == 0)
  }
}

class SegmentsSpec extends org.scalatest.funsuite.AnyFunSuite {
  import TestSpark._

  test("segmented form tiles the long signal in order") {
    val segs = core.Signal.segments(spark, sf, segLen = 64).collect()
    assert(segs.nonEmpty)
    segs.foreach { r =>
      val xs = r.getSeq[Double](3)
      val n0 = r.getLong(2)
      val seg = r.getLong(1)
      assert(n0 == seg * 64)
      assert(xs.length <= 64)
    }
    // round-trip: exploding segments reproduces the long form
    val long = core.Signal.long(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val fromSegs = segs.flatMap { r =>
      val ch = r.getString(0); val n0 = r.getLong(2)
      r.getSeq[Double](3).zipWithIndex.map { case (x, i) => (ch, n0 + i) -> x }
    }.toMap
    assert(fromSegs == long)
  }
}
