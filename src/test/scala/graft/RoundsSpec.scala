package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.llm.{Dedup, Similarity, Urls}

/** `graft.core.Rounds` and the loops built on it: label propagation
  * against a driver-side reference, early exit at the no-change witness
  * returning exactly the rows the full round count returns, the
  * re-based size estimate on a loop that never converges, and the
  * `<loop> round <r>` job descriptions.
  */
class RoundsSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  /** `body`'s value plus the job descriptions of the jobs it started. */
  private def described[T](body: => T): (T, Seq[String]) = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description"))).foreach(seen.add)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val out = body
      Harness.drain(spark)
      (out, seen.toArray(Array.empty[String]).toSeq)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  /** `body`'s value plus the highest round of `loop` its jobs ran. */
  private def roundsRun[T](loop: String)(body: => T): (T, Int) = {
    val (out, descs) = described(body)
    val re = s"$loop round (\\d+)".r
    (out, descs.collect { case re(r) => r.toInt }.maxOption.getOrElse(0))
  }

  private def rows(df: DataFrame): Set[Seq[Any]] = df.collect().map(_.toSeq).toSet

  private def lpa(nodes: Seq[Long], edges: Seq[(Long, Long)], rounds: Int): (Map[Long, Long], Int) = {
    val (labels, ran) =
      Similarity.communityLabels(nodes.toDF("id"), edges.toDF("src", "dst"), rounds)
    (labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap, ran)
  }

  /** Synchronous LPA on the driver: every node with neighbors takes the
    * most common neighbor label, ties to the smallest.
    */
  private def lpaReference(nodes: Seq[Long], edges: Seq[(Long, Long)], rounds: Int): Map[Long, Long] = {
    val adj = edges
      .flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .distinct
      .groupBy(_._1)
      .map { case (k, v) => k -> v.map(_._2) }
    (1 to rounds).foldLeft(nodes.map(n => n -> n).toMap) { (lab, _) =>
      lab.map { case (n, l) =>
        n -> adj.get(n).fold(l) { ns =>
          ns.groupBy(lab).toSeq.map { case (x, hits) => (hits.size, x) }.maxBy { case (c, x) => (c, -x) }._2
        }
      }
    }
  }

  test("label propagation matches a driver-side synchronous reference at every round count 1-6") {
    val rng = new scala.util.Random(23)
    val nodes = (0L until 40L).map(_ * 37L + 5L)
    // 60 random edges over the first 36 nodes; the last 4 stay isolated
    val edges = Seq.fill(60)((nodes(rng.nextInt(36)), nodes(rng.nextInt(36)))).filter { case (a, b) => a != b }
    for (r <- 1 to 6) assert(lpa(nodes, edges, r)._1 == lpaReference(nodes, edges, r), s"round $r")
  }

  test("label propagation: a 2-node graph swaps labels for 30 rounds and still plans every round") {
    // the labels swap every round, so no round's witness is 0: all 30
    // rounds run, each planned over re-based checkpoint estimates, and an
    // even count swaps the labels back
    val (labels, ran) = lpa(Seq(1L, 2L), Seq(1L -> 2L), 30)
    assert(ran == 30)
    assert(labels == Map(1L -> 1L, 2L -> 2L))
  }

  test("early exit: label propagation on a converging graph returns the gate-cap rows in fewer rounds") {
    // two triangles and an isolated node: every triangle settles on one
    // label by round 2, and round 3 changes nothing
    val nodes = (1L to 7L)
    val edges = Seq(1L -> 2L, 2L -> 3L, 1L -> 3L, 4L -> 5L, 5L -> 6L, 4L -> 6L)
    val (gate, _) = lpa(nodes, edges, 5)
    val (far, ran) = lpa(nodes, edges, 40)
    assert(far == gate)
    assert(ran == 3, s"ran $ran rounds")
  }

  test("early exit: k-core reaches its fixed point in fewer rounds and returns the gate-cap rows") {
    val docs = core.Tables.documents(spark, sf)
    val gate = rows(Urls.hostKcore(docs))
    val (far, ran) = roundsRun("kcore")(rows(Urls.hostKcore(docs, rounds = 20)))
    assert(far == gate)
    // peels in rounds 1-2; round 3 peels nothing and is the last
    assert(ran == 3, s"ran $ran rounds")
  }

  test("early exit: redirect doubling returns the gate-cap rows; a cycle still reports loop") {
    val chains = Seq(
      ("http://h.example.com/a0", null),
      ("http://h.example.com/a1", "http://h.example.com/a0"),
      ("http://h.example.com/a2", "https://www.h.example.com/a1"),
      ("http://h.example.com/gone", "http://elsewhere.example.com/x")
    )
    val cycle = Seq(
      ("http://h.example.com/x", "http://h.example.com/y"),
      ("http://h.example.com/y", "http://h.example.com/x")
    )
    def resolved(log: Seq[(String, String)], rounds: Int): (Set[Seq[Any]], Int) =
      roundsRun("redirects") {
        rows(Urls.resolveRedirects(log.toDF("url", "location"), rounds).select("url", "status", "n_hops", "final_canon"))
      }
    val (gate, _) = resolved(chains ++ cycle, 4)
    val (far, ranCycle) = resolved(chains ++ cycle, 20)
    assert(far == gate)
    assert(far.contains(Seq("http://h.example.com/x", "loop", null, null)))
    assert(ranCycle == 20, "a cycle keeps doubling, so every round changes")
    val (landed, ran) = resolved(chains, 20)
    assert(landed == resolved(chains, 4)._1)
    assert(ran < 20, s"ran $ran rounds")
  }

  test("early exit: the deterministic walk stops once every visited node is expanded") {
    val rng = new scala.util.Random(31)
    // 4 vectors in 2 cells, 1-NN edges: both cells seed every query, so
    // two rounds visit every node a query can reach
    val emb = (0L until 4L)
      .map(i => (i, Array.fill(64)(rng.nextGaussian().toFloat), 0))
      .toDF("vec_id", "embedding", "label")
    val visited = (r: Int) => rows(Similarity.graphWalkVisited(emb, 2, 1, 4, r, 2))
    val gate = visited(2)
    val (far, ran) = roundsRun("walk")(visited(50))
    assert(far == gate)
    assert(ran < 50, s"ran $ran rounds")
  }

  test("rounds run under '<loop> round <r>' job descriptions inside a probed block") {
    val key = "spark.sql.adaptive.coalescePartitions.enabled"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "false") // split the edge store, so the seed alone cannot settle it
    try {
      val ids = new scala.util.Random(5).shuffle((0L until 200L).map(_ * 7919L))
      val pairs = ids.zip(ids.tail).toDF("doc_a", "doc_b")
      val (((ran, restored), run), descs) = described {
        Harness.probe(spark) {
          val ran = Dedup.componentLabels(pairs, 25)._2
          (ran, spark.sparkContext.getLocalProperty("spark.job.description"))
        }
      }
      assert(ran > 0)
      assert(descs.contains("components round 1"), descs.distinct.mkString(", "))
      assert(restored == "graft probe", "the probe's description was not restored")
      assert(run.jobs == descs.size, s"probe counted ${run.jobs} of ${descs.size} jobs")
    } finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }
}
