package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.llm.Dedup

/** `Dedup.components`: the per-partition union-find seed, the fallback
  * rounds and their convergence witness, checked against a driver-side
  * reference. The suite's session is local[4], where AQE coalesces any
  * small edge store to one partition and the seed alone settles it;
  * tests that must reach the rounds switch coalescing off.
  */
class ComponentsSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private def withoutCoalescing[T](f: => T): T = {
    val key = "spark.sql.adaptive.coalescePartitions.enabled"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "false")
    try f
    finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  private def labels(nodes: Seq[Long], pairs: Seq[(Long, Long)]): Map[Long, Long] =
    Dedup
      .components(nodes.toDF("doc_id"), pairs.toDF("doc_a", "doc_b"))
      .collect()
      .map(r => r.getLong(0) -> r.getLong(1))
      .toMap

  /** Min id reachable from each node, by breadth-first search. */
  private def reference(nodes: Seq[Long], pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    val adj = pairs
      .flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1)
      .map { case (k, v) => k -> v.map(_._2) }
    val comp = scala.collection.mutable.Map.empty[Long, Long]
    for (s <- nodes.sorted if !comp.contains(s)) {
      val queue = scala.collection.mutable.Queue(s)
      comp(s) = s
      while (queue.nonEmpty) {
        for (v <- adj.getOrElse(queue.dequeue(), Nil) if !comp.contains(v)) {
          comp(v) = s
          queue.enqueue(v)
        }
      }
    }
    comp.toMap
  }

  private def rounds(pairs: Seq[(Long, Long)]): Int =
    Dedup.componentLabels(pairs.toDF("doc_a", "doc_b"), maxIters = 25)._2

  private def chain(ids: Seq[Long]): Seq[(Long, Long)] = ids.zip(ids.tail)

  // round 1's label sum of this chain is −1, the old witness's sentinel
  private val negChain = (-2L to 8L)
  // a label sum over these overflows BIGINT under ANSI
  private val bigChain = Seq(1L << 62, (1L << 62) + 1, (1L << 62) + 2)

  test("components: a chain whose label sum hits −1 still labels every node with the minimum") {
    val want = negChain.map(_ -> -2L).toMap
    assert(labels(negChain, chain(negChain)) == want)
    assert(withoutCoalescing(labels(negChain, chain(negChain))) == want)
  }

  test("components: ids near 2^62 do not overflow the convergence witness") {
    val want = bigChain.map(_ -> (1L << 62)).toMap
    assert(labels(bigChain, chain(bigChain)) == want)
    assert(withoutCoalescing(labels(bigChain, chain(bigChain))) == want)
  }

  test("components: rounds over a split edge store match the reference (shuffled 2000-node chain)") {
    val ids = new scala.util.Random(5).shuffle((0L until 2000L).map(_ * 7919L - 5000000L))
    val pairs = chain(ids)
    withoutCoalescing {
      assert(rounds(pairs) > 0, "the seed alone settled a split chain; the rounds went untested")
      assert(labels(ids, pairs) == reference(ids, pairs))
    }
  }

  test("components: rounds over a split edge store match the reference (random graph, 20 components)") {
    val rng = new scala.util.Random(11)
    val ids = Iterator.continually(rng.nextLong()).distinct.take(630).toVector
    // nodes 0..599 in 20 groups of 30, each a random spanning tree,
    // plus 300 random intra-group chords; the last 30 nodes touch no edge
    val group = (0 until 600).groupBy(_ % 20).values.toSeq
    val tree = group.flatMap(g => g.indices.tail.map(i => ids(g(i)) -> ids(g(rng.nextInt(i)))))
    val chords = Seq.fill(300) {
      val g = group(rng.nextInt(20))
      ids(g(rng.nextInt(30))) -> ids(g(rng.nextInt(30)))
    }
    val pairs = tree ++ chords
    withoutCoalescing {
      val got = labels(ids, pairs)
      assert(got == reference(ids, pairs))
      assert(got.values.toSet.size == 20 + 30)
    }
  }

  test("components: a clique split over several partitions runs zero rounds") {
    val ids = (1L to 40L).map(_ * 1000003L)
    val pairs = for (a <- ids; b <- ids if a < b) yield a -> b
    withoutCoalescing {
      assert(rounds(pairs) == 0)
      assert(labels(ids, pairs) == ids.map(_ -> ids.head).toMap)
    }
  }

  test("components: LongUnionFind roots every set at its minimum across table growth") {
    val uf = new Dedup.LongUnionFind
    val ids = new scala.util.Random(3).shuffle((0L until 5000L).map(i => (i << 40) - i))
    // sets by residue mod 7, each linked in shuffled order
    val sets = ids.groupBy(i => java.lang.Math.floorMod(i, 7L))
    sets.values.foreach(s => s.zip(s.tail).foreach { case (a, b) => uf.union(a, b) })
    assert(uf.size == ids.size)
    assert((0 until uf.size).forall(i => uf.rootId(i) == sets(java.lang.Math.floorMod(uf.id(i), 7L)).min))
  }
}
