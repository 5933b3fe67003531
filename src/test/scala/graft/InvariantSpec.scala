package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Randomized invariants for the load-bearing algebra:
  *
  *  - `UpsertStore.collapse` associativity — the property the merge,
  *    the streaming cadence, AND the gate oracle all lean on — over
  *    random out-of-order batches with colliding users/timestamps.
  *  - the r13 `chunksGear` row-local kernel ≡ the original 48-lag
  *    window formulation (reconstructed here) over random strings —
  *    the kernelization must be a pure plan change, never a semantic
  *    one.
  */
class InvariantSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  test("UpsertStore.collapse is associative over 15 random out-of-order batch splits") {
    val rnd = new scala.util.Random(97)
    def canon(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toSeq.mkString("|")).sorted.toSeq
    for (_ <- 1 to 15) {
      // unique (user, ts, event_id) triples: exact ties carrying
      // different attributes are resolved arbitrarily by ANY engine —
      // the library contract orders by the full (ts, event_id) key
      val triples = rnd
        .shuffle(
          for { u <- 0 to 5; ts <- 0 to 8; id <- 0 to 3 } yield (u.toLong, ts.toLong, id.toLong)
        )
        .take(12 + rnd.nextInt(40))
        .map { case (u, ts, id) => (u, rnd.nextInt(1000).toLong, ts, id) }
      val (a, b) = triples.splitAt(rnd.nextInt(triples.length + 1))
      def df(rows: Seq[(Long, Long, Long, Long)]) =
        rows.toDF("user_id", "k", "ts_us", "event_id")
      // production shape: fresh rows carry n_events = 1, a collapsed
      // store carries its accumulated n_events
      val merged = streaming.StreamOps.UpsertStore.collapse(
        df(a).withColumn("n_events", lit(1L)).unionByName(streaming.StreamOps.UpsertStore.collapse(df(b)))
      )
      val direct = streaming.StreamOps.UpsertStore.collapse(df(a ++ b))
      assert(canon(merged) == canon(direct), s"associativity broke on |A|=${a.length} |B|=${b.length}")
    }
  }

  test("chunksGear kernel equals the original 48-lag window formulation on random strings") {
    val rnd = new scala.util.Random(41)
    val alphabet = "abcdefgh XYZ.,"
    val docs0 = (0L until 40L).map { i =>
      val len = rnd.nextInt(300)
      (i, (1 to len).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString)
    }
    val docs = docs0.toDF("doc_id", "text")
    // the pre-r13 formulation, verbatim: explode chars, 48 window lags,
    // running boundary count, per-chunk md5 of the ordered chars
    val gearW = graft.llm.TextStats.gearW
    val gearDiv = graft.llm.TextStats.gearDiv
    val gearP = 2147483647L
    def gearPow(j: Int): Long = { var r = 1L; var k = 0; while (k < j) { r = r * 3 % gearP; k += 1 }; r }
    val chars = docs
      .select(col("doc_id"), expr("substr(text, 1, 2048)").as("t"))
      .filter(length(col("t")) >= 1)
      .select(col("doc_id"), col("t"), explode(expr("sequence(1, length(t))")).as("i"))
      .select(
        col("doc_id"),
        col("i"),
        expr("substr(t, i, 1)").as("ch"),
        expr("CAST(conv(substr(md5(substr(t, i, 1)), 1, 4), 16, 10) AS BIGINT) % 32768").as("g")
      )
    val wOrd = org.apache.spark.sql.expressions.Window.partitionBy(col("doc_id")).orderBy(col("i"))
    val hTerms = (0 until gearW).map(j => lag(col("g"), j, 0L).over(wOrd) * lit(gearPow(j))).reduce(_ + _)
    val wRun = wOrd.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val windowForm = chars
      .withColumn("h", pmod(hTerms, lit(gearP)))
      .withColumn("b", (col("i") >= gearW && col("h") % gearDiv === 0L).cast("long"))
      .withColumn("chunk_id", coalesce(sum(col("b")).over(wRun), lit(0L)))
      .groupBy(col("doc_id"), col("chunk_id"))
      .agg(
        count(lit(1)).as("n_chars"),
        md5(
          concat_ws(
            "",
            transform(sort_array(collect_list(struct(col("i"), col("ch")))), e => e.getField("ch"))
          )
        ).as("chunk_md5")
      )
    def canon(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.select(col("doc_id"), col("chunk_id"), col("n_chars"), col("chunk_md5"))
        .collect()
        .map(_.toSeq.mkString("|"))
        .sorted
        .toSeq
    val kernel = canon(graft.llm.TextStats.chunksGear(docs))
    val window = canon(windowForm)
    assert(kernel == window, s"kernel ${kernel.length} chunks != window form ${window.length}")
    assert(kernel.nonEmpty, "vacuous: no chunks produced")
  }
}
