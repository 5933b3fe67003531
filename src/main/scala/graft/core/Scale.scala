package graft.core

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale patterns used across the engine, packaged as reusable
  * utilities: bucketed co-located joins (shuffle-free repeat joins on a
  * fact key) and two-stage salted aggregation (hot-key skew).
  */
object Scale {

  /** Write both sides bucketed by the join key into the session
    * warehouse so subsequent joins on that key are exchange-free
    * (SortMergeJoin over pre-bucketed scans). Returns the joined frame.
    * At 100 TB this is the layout decision for fact-fact joins that
    * recur across a pipeline; the write cost amortizes over every
    * downstream join.
    */
  def bucketedJoin(
      spark: SparkSession,
      left: DataFrame,
      right: DataFrame,
      key: String,
      buckets: Int,
      leftName: String,
      rightName: String
  ): DataFrame = {
    // a fresh derby metastore does not know about leftover warehouse
    // dirs from prior sessions — clear both metadata and location
    val warehouse = spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
    for (t <- Seq(leftName, rightName)) {
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val dir = java.nio.file.Paths.get(warehouse, t)
      if (java.nio.file.Files.exists(dir)) {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files
          .walk(dir)
          .sorted(java.util.Comparator.reverseOrder())
          .iterator()
          .asScala
          .foreach(java.nio.file.Files.delete)
      }
    }
    left.write
      .mode("overwrite")
      .bucketBy(buckets, key)
      .sortBy(key)
      .saveAsTable(leftName)
    right.write
      .mode("overwrite")
      .bucketBy(buckets, key)
      .sortBy(key)
      .saveAsTable(rightName)
    spark.table(leftName).join(spark.table(rightName), key)
  }

  /** Two-stage aggregation with a salt on the grouping key: stage 1
    * aggregates (key, salt) partials — splitting any hot key across
    * `saltBuckets` reducers — stage 2 merges partials per key. The
    * caller supplies mergeable partial aggregates (sum/count/min/max).
    */
  def saltedAgg(
      df: DataFrame,
      key: Column,
      saltBuckets: Int,
      partials: Seq[(Column, String)], // (aggregate over stage-1 input, name)
      merge: Seq[(String => Column, String)] // stage-2 merge by partial name
  ): DataFrame = {
    val salted = df.withColumn("_salt", pmod(spark_partition_id() + monotonically_increasing_id(), lit(saltBuckets)))
    val stage1 = salted
      .groupBy(key.as("_key"), col("_salt"))
      .agg(partials.head._1.as(partials.head._2), partials.tail.map { case (c, n) => c.as(n) }: _*)
    stage1
      .groupBy(col("_key"))
      .agg(
        merge.head._1(merge.head._2).as(merge.head._2),
        merge.tail.map { case (f, n) => f(n).as(n) }: _*
      )
  }

  /** Convenience: salted sum+count (→ mean) per key. */
  def saltedSumCount(df: DataFrame, key: Column, value: Column, saltBuckets: Int = 16): DataFrame =
    saltedAgg(
      df,
      key,
      saltBuckets,
      Seq((sum(value), "s"), (count(lit(1)), "c")),
      Seq((n => sum(col(n)), "s"), (n => sum(col(n)), "c"))
    )

  /** Salted equi-join for hot-key skew: every row of the (big, skewed)
    * fact side gets a deterministic salt in [0, saltBuckets) derived
    * from `saltFrom` (any per-row expression with spread — a row id, a
    * timestamp; NOT the join key), and the dim side replicates once per
    * salt value. The join key becomes (key, salt), so a hot key's rows
    * land on `saltBuckets` reducers instead of one. Result equals the
    * plain equi-join exactly; cost is saltBuckets× the DIM side only.
    * Complements AQE skew-join (which splits oversized partitions at
    * runtime): salting is the static fix when one key dwarfs the
    * advisory partition size by itself or the join must avoid AQE
    * replans.
    */
  def saltedJoin(
      big: DataFrame,
      dim: DataFrame,
      key: String,
      saltFrom: Column,
      saltBuckets: Int = 16
  ): DataFrame = {
    require(
      !big.columns.contains("_salt") && !dim.columns.contains("_salt"),
      "saltedJoin reserves the _salt column; rename it on the input"
    )
    val b = big.withColumn("_salt", pmod(xxhash64(saltFrom), lit(saltBuckets.toLong)))
    val d = dim.withColumn("_salt", explode(array((0 until saltBuckets).map(i => lit(i.toLong)): _*)))
    b.join(d, Seq(key, "_salt")).drop("_salt")
  }

  /** Z-order (Morton) interleave of two `bits`-bit bucket expressions,
    * rendered as pure {integer-divide, mod, multiply} arithmetic so the
    * SAME formula runs on Spark (`divOp = "div"`) and DuckDB
    * (`divOp = "//"`) with exact integer results. Bucket k of `ub`
    * lands at bit 2k+1, of `vb` at bit 2k — a z-contiguous file covers
    * a RECTANGLE in (ub, vb) space, which is what makes min/max file
    * stats prune on EITHER filtered dimension (the multi-dimensional
    * clustering layout Delta/Iceberg call Z-ordering; single-dim sort
    * bounds only the sorted column's per-file range).
    *
    * Preconditions: `ub`/`vb` must evaluate NON-NEGATIVE (Spark `div`
    * truncates toward zero, DuckDB `//` floors — they diverge on
    * negatives), and `bits <= 31` so the interleaved weight 2^(2k+1)
    * stays inside a signed 64-bit lane.
    */
  def zValueSql(ub: String, vb: String, divOp: String, bits: Int = 4): String = {
    require(bits >= 1 && bits <= 31, s"zValueSql bits must be in [1, 31], got $bits")
    (0 until bits)
      .map { k =>
        s"((($ub) $divOp ${1 << k}) % 2) * ${1L << (2 * k + 1)} + " +
          s"((($vb) $divOp ${1 << k}) % 2) * ${1L << (2 * k)}"
      }
      .mkString(" + ")
  }

  /** Pre-flight partition-sizing advisory (the Spark analogue of the
    * reference's host-RAM guard, openseize core/resources.py:10
    * `assignable` — "will this fit before you allocate it"):
    * estimate the plan's output bytes from Catalyst's statistics
    * (parquet scans: file sizes; projections/filters: width- and
    * selectivity-scaled propagation) and recommend the shuffle
    * partition count that lands each partition at `targetPartitionBytes`.
    *
    * This is the number a 100 TB job sets `spark.sql.shuffle.partitions`
    * (or passes to `repartition`) to BEFORE running: partitions sized
    * over target spill; partitions sized far under it drown the
    * scheduler in empty tasks. Driver-side metadata only — nothing
    * executes, nothing is scanned.
    */
  final case class PartitionAdvice(
      estimatedBytes: BigInt,
      targetPartitionBytes: Long,
      recommendedPartitions: Int,
      currentShufflePartitions: Int
  ) {
    /** True when the session's current shuffle width would leave the
      * average partition above the target (the spill-risk direction).
      */
    def underPartitioned: Boolean =
      estimatedBytes > BigInt(targetPartitionBytes) * currentShufflePartitions
  }

  def advisePartitions(
      df: DataFrame,
      targetPartitionBytes: Long = 128L << 20,
      maxPartitions: Int = 1 << 20
  ): PartitionAdvice = {
    require(targetPartitionBytes > 0, "targetPartitionBytes must be positive")
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val raw = (bytes + targetPartitionBytes - 1) / targetPartitionBytes
    val rec = raw.max(1).min(maxPartitions).toInt
    PartitionAdvice(
      bytes,
      targetPartitionBytes,
      rec,
      df.sparkSession.sessionState.conf.numShufflePartitions
    )
  }

  /** Misra–Gries heavy hitters as a mergeable summary (Agarwal et al.,
    * "Mergeable Summaries", PODS 2012): each partition builds a
    * (k−1)-counter sketch in one sequential pass, sketches merge
    * associatively (combine counts, subtract the k-th largest, drop
    * non-positives), and the result reaches the driver as ≤ k−1 rows —
    * NO shuffle of the data, communication O(partitions · k). Every key
    * with true frequency > n/k is guaranteed present, and each reported
    * count underestimates the true count by at most n/k.
    *
    * This is the approximate first-profile pass a 100 TB corpus gets
    * before any exact groupBy: one scan, tiny merge tree, bounded
    * error — where an exact count would shuffle the full key stream.
    */
  def heavyHitters(df: DataFrame, key: Column, k: Int): Seq[(String, Long)] = {
    require(k >= 2, "k must be at least 2")
    import scala.collection.mutable
    val kk = k // plain local capture; the closure must not drag the enclosing object in
    val sketches = df
      .select(key.cast("string").as("k"))
      .na
      .drop()
      .rdd
      .mapPartitions { it =>
        val m = mutable.Map.empty[String, Long]
        it.foreach { r =>
          val s = r.getString(0)
          if (m.contains(s)) m(s) += 1L
          else if (m.size < kk - 1) m(s) = 1L
          else {
            // standard MG arrival on a full sketch: decrement every
            // counter, evict zeros, discard the new item
            m.keys.toList.foreach { key0 =>
              m(key0) -= 1L
              if (m(key0) <= 0) m.remove(key0)
            }
          }
        }
        Iterator.single(m.toMap)
      }
    val merged = sketches.treeReduce { (a, b) =>
      val c = mutable.Map(a.toSeq: _*)
      b.foreach { case (s, v) => c(s) = c.getOrElse(s, 0L) + v }
      if (c.size > k - 1) {
        val thr = c.values.toSeq.sorted(Ordering[Long].reverse)(k - 1)
        c.toSeq.collect { case (s, v) if v - thr > 0 => s -> (v - thr) }.toMap
      } else c.toMap
    }
    merged.toSeq.sortBy { case (s, v) => (-v, s) }
  }

  /** Pre-flight SKEW report for a join/aggregation key — the
    * diagnostic a 100 TB run consults BEFORE choosing between a plain
    * hash join, AQE skew handling, and [[saltedJoin]]: per-key counts
    * are profiled in one aggregation, summarized to (p50, p90, max,
    * top-k heavy keys), and the recommended salt factor is
    * ceil(maxCount / max(p50, 1)) capped at `maxSalt` — the
    * multiplicity that levels the heaviest key down to a median-sized
    * task. A report with skew ≈ 1 means salting would only add
    * overhead; a report with skew ≫ shuffle-width means even AQE's
    * split is dominated by one key and the job wants the salted path.
    *
    * Cost: ONE keyed aggregation over the frame plus a
    * counts-of-counts summary aggregation (second stage is
    * distinct-keys-sized, and the driver only receives the k heavy
    * rows + 4 numbers). For a cheaper approximate profile on a raw
    * stream, use [[heavyHitters]] first.
    */
  final case class SkewReport(
      nKeys: Long,
      p50: Long,
      p90: Long,
      maxCount: Long,
      heavy: Seq[(String, Long)],
      recommendedSalt: Int
  )

  def skewReport(df: DataFrame, key: Column, k: Int = 10, maxSalt: Int = 256): SkewReport = {
    import org.apache.spark.sql.functions._
    val counts = df.select(key.cast("string").as("k")).na.drop().groupBy(col("k")).count()
    // exact rank targets off the sorted counts — ONE pass over the
    // distinct-key frame (percentile_approx would be cheaper still but
    // the report drives a config decision; keep it exact)
    val summary = counts
      .agg(
        count(lit(1)).as("n_keys"),
        expr("percentile(count, 0.5e0)").cast("long").as("p50"),
        expr("percentile(count, 0.9e0)").cast("long").as("p90"),
        max(col("count")).as("mx")
      )
      .head()
    val heavy = counts
      .orderBy(col("count").desc, col("k").asc)
      .limit(k)
      .collect()
      .map(r => (r.getString(0), r.getLong(1)))
      .toSeq
    val (nKeys, p50, p90, mx) =
      (summary.getLong(0), summary.getLong(1), summary.getLong(2), summary.getLong(3))
    val salt = ((mx + math.max(p50, 1L) - 1L) / math.max(p50, 1L)).min(maxSalt.toLong).toInt
    SkewReport(nKeys, p50, p90, mx, heavy, math.max(salt, 1))
  }

  final case class CompactReport(
      filesBefore: Int,
      bytesBefore: Long,
      filesAfter: Int,
      compacted: Boolean
  )

  /** Small-file compaction — the table-maintenance pass every
    * streaming/incremental sink needs at 100 TB (each micro-batch or
    * ingest wave appends a handful of files; a year later the table is
    * millions of KB-sized files and every scan pays an open/seek per
    * file plus a listing storm on object storage). Rewrites the
    * parquet directory into ceil(totalBytes / targetBytes) files and
    * swaps it into place with [[publish]]'s write-aside-and-rename
    * (after recovering an interrupted swap), so a crash mid-compaction
    * never loses the table. No-ops when the layout is already within
    * `toleranceX` of the target file count — compaction must be
    * idempotent-cheap enough to run on a schedule.
    *
    * Driver-side work is file-listing metadata only; the data moves
    * through ONE round-robin repartition (no key assumptions — for a
    * sorted/bucketed layout use [[bucketedJoin]]'s writer instead,
    * compaction must not destroy bucket structure).
    */
  def compactFiles(
      spark: SparkSession,
      path: String,
      targetBytes: Long = 128L * 1024 * 1024,
      toleranceX: Double = 2.0
  ): CompactReport = {
    val (fs, live, _, _) = swapPaths(spark, path)
    recoverCompaction(spark, path)
    val parts = fs
      .listStatus(live)
      .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
    val bytes = parts.map(_.getLen).sum
    val want = math.max(1, ((bytes + targetBytes - 1) / targetBytes).toInt)
    if (parts.length <= math.ceil(want * toleranceX).toInt)
      return CompactReport(parts.length, bytes, parts.length, compacted = false)
    swap(spark.read.parquet(path).repartition(want), path)
    val after = fs
      .listStatus(live)
      .count(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
    CompactReport(parts.length, bytes, after, compacted = true)
  }

  private def swapPaths(spark: SparkSession, path: String) = {
    val live = new org.apache.hadoop.fs.Path(path)
    val fs = live.getFileSystem(spark.sparkContext.hadoopConfiguration)
    (fs, live, new org.apache.hadoop.fs.Path(s"$path.next"), new org.apache.hadoop.fs.Path(s"$path.prev"))
  }

  /** Write-aside-and-rename publish of `df` as the parquet table at
    * `path` — the one swap every rewritten store uses ([[compactFiles]],
    * `llm.Sketches.ProfileService`, `streaming.StreamOps.UpsertStore`).
    * Never mode("overwrite") on the live path: that deletes the old
    * table before the new write commits, so a crash mid-write would
    * lose it. A missing live path is created.
    *
    * The swap first recovers an interrupted earlier swap at `path`
    * ([[recoverCompaction]]), then builds `df` — by name, so a
    * read-modify-write `df` reads the recovered live table — and writes
    * it to `$path.next`. That write completes before either rename, so
    * `df` may read `path` itself. Then two renames, rename(live →
    * `$path.prev`) and rename(`$path.next` → live); between them the
    * live path does not exist, and a crash inside that window leaves
    * the old table only at `$path.prev` and the new one complete at
    * `$path.next`. No data is lost: [[readPublished]] and [[published]]
    * resolve that state without changing it, and the next publish or
    * [[compactFiles]] recovers it. A rename that fails throws. One
    * writer per `path`: the recovery clears aside dirs, so a second
    * concurrent writer would delete the first one's `.next`. A true
    * single-rename swap needs a metadata layer (symlinked version dirs
    * or a table format's manifest) — out of scope for a raw parquet
    * directory; on an object store, front this with the store's
    * conditional-put committer.
    */
  def publish(spark: SparkSession, path: String)(df: => DataFrame): Unit = {
    recoverCompaction(spark, path)
    swap(df, path)
  }

  /** [[publish]]'s write and two renames, on a recovered `path`. */
  private def swap(df: DataFrame, path: String): Unit = {
    val (fs, live, next, prev) = swapPaths(df.sparkSession, path)
    df.write.mode("overwrite").parquet(next.toString)
    if (fs.exists(live)) require(fs.rename(live, prev), s"publish: rename $live -> $prev failed")
    require(fs.rename(next, live), s"publish: rename $next -> $live failed")
    fs.delete(prev, true)
    ()
  }

  /** Read a [[publish]]ed table. A pure read: it renames and deletes
    * nothing, so it is safe while a writer runs. Inside an interrupted
    * swap it reads where the table is (see [[publishedDir]]); a reader
    * whose files a concurrent rename moves mid-read gets FileNotFound.
    */
  def readPublished(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(publishedDir(spark, path).getOrElse(path))

  /** Whether a [[publish]]ed table exists, counting one left aside by
    * an interrupted swap. A pure check, like [[readPublished]].
    */
  def published(spark: SparkSession, path: String): Boolean =
    publishedDir(spark, path).isDefined

  /** The directory holding the current contents of the table at
    * `path`, chosen as [[recoverCompaction]] would restore it: the live
    * path; else `$path.next` when its write completed; else
    * `$path.prev`; else none.
    */
  private def publishedDir(spark: SparkSession, path: String): Option[String] = {
    val (fs, live, next, prev) = swapPaths(spark, path)
    Seq(live -> live, new org.apache.hadoop.fs.Path(next, "_SUCCESS") -> next, prev -> prev)
      .collectFirst { case (probe, dir) if fs.exists(probe) => dir.toString }
  }

  /** Crash recovery for the two-rename window of every [[publish]],
    * [[compactFiles]]' included: if the live path is missing, restore
    * it from `$path.next` when the write completed (prefer it — it IS
    * the new table, finishing the interrupted swap) else from
    * `$path.prev`; leftover aside dirs are cleared either way. No
    * restore when live exists. Returns true if a restore happened.
    * Writers only ([[publish]], [[compactFiles]]): it renames and
    * deletes, so readers resolve the window with [[readPublished]].
    */
  def recoverCompaction(spark: SparkSession, path: String): Boolean = {
    val (fs, live, next, prev) = swapPaths(spark, path)
    if (fs.exists(live)) {
      // a finished swap may still leave .prev behind if the final
      // delete crashed; a crash BEFORE the first rename leaves .next.
      // Either is stale once live exists.
      fs.delete(prev, true)
      fs.delete(next, true)
      false
    } else if (fs.exists(next) && fs.exists(new org.apache.hadoop.fs.Path(next, "_SUCCESS"))) {
      require(fs.rename(next, live), s"recover: rename $next -> $live failed")
      fs.delete(prev, true)
      true
    } else if (fs.exists(prev)) {
      require(fs.rename(prev, live), s"recover: rename $prev -> $live failed")
      fs.delete(next, true)
      true
    } else false
  }
}
