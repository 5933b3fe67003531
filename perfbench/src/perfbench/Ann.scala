package perfbench

import java.io.File
import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.llm.Similarity

/** ann_serve: a vector index serving top-k requests while it is
  * maintained.
  *
  * Setup generates clustered float vectors, trains `kmeansParallel`,
  * assigns cells with `ivfAssign` and writes the cell-partitioned store.
  * One closed-loop client then sends 16-query top-k requests through
  * `serveStream` over `annServeView`; every tenth op is a write: an
  * `annDelete` of a seeded id batch, and every fourth write an
  * `annCompact`. Every answer is checked against an exact in-memory
  * replay of the same IVF search over the live vectors.
  */
final class Ann(spark: SparkSession, vectors: Int, cells: Int, seed: Long) extends Workload {
  import spark.implicits._

  private val dim = 64
  private val batch = 16
  private val nProbe = 4
  private val topK = 5
  private val deleteBatch = 32
  private val compactShare = 0.1

  private var dir: String = _
  private var base: String = _
  private var tomb: String = _
  private var vecs: Array[Array[Double]] = _
  private var norms: Array[Double] = _
  private var queries: Array[Array[Float]] = _
  private var cents: Array[Array[Double]] = _
  // replayed index state: physical cell rows and pending tombstones
  private var store: Array[mutable.LinkedHashSet[Int]] = _
  private var pending: mutable.LinkedHashSet[Int] = _
  private var reads = 0
  private var writes = 0

  def recordsPerPass: Long = 9L * batch // query vectors per pass

  private def floats(rng: SplittableRandom, centers: Array[Array[Double]]): Array[Float] = {
    val c = centers(rng.nextInt(centers.length))
    Array.tabulate(dim)(j => (c(j) + 0.35 * gauss(rng)).toFloat)
  }

  def setup(workDir: String): Unit = {
    dir = workDir
    new File(dir).mkdirs()
    base = s"$dir/store"
    tomb = s"$dir/tomb"
    val rng = new SplittableRandom(seed)
    val centers = Array.fill(cells)(Array.fill(dim)(gauss(rng)))
    val raw = Array.fill(vectors)(floats(rng, centers))
    queries = Array.fill(256)(floats(rng, centers))
    vecs = raw.map(_.map(_.toDouble))
    norms = vecs.map(v => math.sqrt(dot(v, v)))
    val emb = spark
      .createDataFrame(
        spark.sparkContext.parallelize(raw.indices.map(i => Row(i.toLong, raw(i).toSeq, 0)), 4),
        StructType(Seq(
          StructField("vec_id", LongType),
          StructField("embedding", ArrayType(FloatType, containsNull = false)),
          StructField("label", IntegerType)
        ))
      )
    cents = Similarity.kmeansParallel(emb, k = cells)
    Similarity.ivfAssign(emb, cents).write.partitionBy("cid").mode("overwrite").parquet(base)
    Seq.empty[Long].toDF("vec_id").write.mode("overwrite").parquet(tomb)
    store = Array.fill(cents.length)(mutable.LinkedHashSet.empty[Int])
    vecs.indices.foreach(i => store(nearest(vecs(i), cents.length).head) += i)
    pending = mutable.LinkedHashSet.empty
    reads = 0
    writes = 0
  }

  /** End-of-run check: the store on disk holds exactly the rows the
    * replay expects, each in the cell the replayed ivfAssign chose,
    * after every delete and compaction.
    */
  def checkStore(): Option[String] = {
    val got = spark.read.parquet(base).select(col("vec_id"), col("cid").cast("long")).as[(Long, Long)]
      .collect().sorted.toSeq
    val want = store.indices.flatMap(c => store(c).toSeq.map(i => (i.toLong, c.toLong))).sorted
    if (got == want) None else Some("store cell assignment differs from the replayed ivfAssign")
  }

  private def dot(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length) { s += a(i) * b(i); i += 1 }
    s
  }

  private def sqDist(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
    s
  }

  /** Cell ids by (squared distance, cell id), the first `n`. */
  private def nearest(v: Array[Double], n: Int): Seq[Int] =
    cents.indices.map(c => (sqDist(v, cents(c)), c)).sorted.take(n).map(_._2)

  private def round6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  private val resultSchema = StructType(Seq(
    StructField("qid", LongType),
    StructField("vid", LongType),
    StructField("cos", DoubleType),
    StructField("rank", IntegerType)
  ))

  /** Exact replay of serveStream over the live vectors. */
  private def expected(qs: Seq[(Long, Array[Double])]): Seq[Row] = qs.flatMap { case (qid, va) =>
    val na = math.sqrt(dot(va, va))
    val cand = nearest(va, nProbe).flatMap(c => store(c).iterator.filterNot(pending.contains))
      .map(i => (-round6(dot(va, vecs(i)) / (na * norms(i))), i.toLong))
    cand.sorted.take(topK).zipWithIndex.map { case ((nc, vid), r) => Row(qid, vid, -nc, r + 1) }
  }

  private def readOp(): Op = {
    val b = reads
    reads += 1
    val idx = (0 until batch).map(j => (b * batch + j) % queries.length)
    val qs = idx.map(i => (1000000000L + i, queries(i)))
    lazy val want = Digest.ofRows(spark, resultSchema, expected(qs.map { case (q, v) => (q, v.map(_.toDouble)) }))
    Op(
      "serve",
      "llm",
      write = false,
      () => {
        val qdf = qs.map { case (q, v) => (q, v.toSeq) }.toDF("qid", "embedding")
        Similarity.serveStream(qdf, Similarity.annServeView(spark, base, tomb), cents, nProbe)
      },
      d => if (d.key == want.key) None else Some(s"top-k differs from the exact replay: ${d.key} vs ${want.key}"),
      scores = true,
      stable = false
    )
  }

  private def writeOp(): Op = {
    val w = writes
    writes += 1
    if (w % 4 == 3) {
      var hot = Seq.empty[Int]
      Op("compact", "sources", write = true, () => {
        hot = replayCompact()
        Similarity.annCompact(spark, base, tomb, compactShare).toDF("cid")
      }, d => {
        val want = Digest.of(hot.map(_.toLong).toDF("cid"))
        if (d.key == want.key) None else Some(s"compacted cells differ from the replay (${hot.mkString(",")})")
      }, stable = false)
    } else {
      val rng = new SplittableRandom(seed * 1000003L + w)
      val live = store.indices.filter(c => store(c).exists(i => !pending.contains(i)))
      val c = live(rng.nextInt(live.length))
      val doomed = store(c).iterator.filterNot(pending.contains).toVector
        .sortBy(i => (i * 2654435761L) % 1000003L).take(deleteBatch)
      Op("delete", "sources", write = true, () => {
        pending ++= doomed
        Similarity.annDelete(doomed.map(_.toLong).toDF("vec_id"), tomb)
        spark.read.parquet(tomb)
      }, d => if (d.rows == pending.size) None else Some(s"tombstones ${d.rows}, expected ${pending.size}"),
        stable = false)
    }
  }

  /** annCompact's policy on the replayed state: rewrite cells whose
    * tombstoned share reaches the threshold, unless the whole cell is
    * dead. Returns those cells and applies the rewrite.
    */
  private def replayCompact(): Seq[Int] = {
    val hot = store.indices.filter { c =>
      val n = store(c).size
      val nd = store(c).count(pending.contains)
      n > 0 && nd.toDouble / n >= compactShare && nd < n
    }
    hot.foreach { c =>
      val dead = store(c).filter(pending.contains)
      store(c) --= dead
      pending --= dead
    }
    hot
  }

  def pass(i: Int): Seq[Op] = Seq.fill(9)(readOp()) :+ writeOp()
}
