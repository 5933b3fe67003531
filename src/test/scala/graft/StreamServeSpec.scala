package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** The streaming ANN serving twin: queries arrive as a stream, the
  * layout is a static published artifact. Batch-twin equality against
  * ivfTopk is the contract — the stream path must not change answers.
  */
class StreamServeSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  test("cell store appends a new batch without rewriting existing partition files") {
    // index freshness: new vectors assign row-locally against the SAME
    // literal centroids and APPEND into their cid partitions — existing
    // files are never rewritten, and the appended store equals a full
    // rebuild row-for-row (the dedup_incremental cadence applied to ANN)
    val emb = core.Tables.embeddings(spark, sf)
    val vd = emb.select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("v"))
    val cents = vd
      .filter(col("vec_id") < 16)
      .orderBy(col("vec_id"))
      .collect()
      .map(_.getSeq[Double](1).toArray)
    val base = java.nio.file.Files.createTempDirectory("graft_store_append").toString
    graft.llm.Similarity
      .ivfAssign(emb.filter(col("vec_id") % 2 === 0), cents)
      .write.partitionBy("cid").mode("overwrite").parquet(base)
    def files(): Map[String, Long] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isFile) Seq(f)
        else Option(f.listFiles()).getOrElse(Array.empty).toSeq.flatMap(walk)
      walk(new java.io.File(base))
        .filter(_.getName.endsWith(".parquet"))
        .map(f => f.getAbsolutePath -> f.length())
        .toMap
    }
    val before = files()
    graft.llm.Similarity
      .ivfAssign(emb.filter(col("vec_id") % 2 === 1), cents)
      .write.partitionBy("cid").mode("append").parquet(base)
    val after = files()
    before.foreach { case (p, sz) =>
      assert(after.get(p).contains(sz), s"append rewrote an existing file: $p")
    }
    assert(after.size > before.size, "append added no files")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select(col("vec_id"), col("cid").cast("long"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1)))
        .sorted
        .toSeq
    val appended = canon(spark.read.parquet(base))
    val rebuilt = canon(graft.llm.Similarity.ivfAssign(emb, cents))
    assert(appended == rebuilt, "appended store diverged from a full rebuild")
  }

  test("ANN delete cadence: tombstoned view == rebuild-minus-deleted; compaction rewrites only hot cells") {
    val emb = core.Tables.embeddings(spark, sf)
    val vd = emb.select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("v"))
    val cents = vd
      .filter(col("vec_id") < 16)
      .orderBy(col("vec_id"))
      .collect()
      .map(_.getSeq[Double](1).toArray)
    val base = java.nio.file.Files.createTempDirectory("graft_store_del").toString
    val tomb = java.nio.file.Files.createTempDirectory("graft_store_del_t").toString + "/t"
    val assigned = graft.llm.Similarity.ivfAssign(emb, cents).localCheckpoint()
    assigned.write.partitionBy("cid").mode("overwrite").parquet(base)
    // delete every other member of the largest cell — it crosses the
    // 30% share threshold; every other cell stays at 0%
    val byCell = assigned
      .groupBy(col("cid"))
      .count()
      .orderBy(col("count").desc, col("cid").asc)
      .head
    val hotCid = byCell.getLong(0)
    val hotIds = assigned
      .filter(col("cid") === hotCid)
      .select(col("vec_id"))
      .orderBy(col("vec_id"))
      .collect()
      .map(_.getLong(0))
    val doomed = hotIds.zipWithIndex.collect { case (id, i) if i % 2 == 0 => id }
    import spark.implicits._
    graft.llm.Similarity.annDelete(doomed.toSeq.toDF("vec_id"), tomb)
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select(col("vec_id")).collect().map(_.getLong(0)).sorted.toSeq
    val expect = canon(assigned.filter(!col("vec_id").isInCollection(doomed)))
    assert(canon(graft.llm.Similarity.annServeView(spark, base, tomb)) == expect)
    def files(): Map[String, Long] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isFile) Seq(f)
        else Option(f.listFiles()).getOrElse(Array.empty).toSeq.flatMap(walk)
      walk(new java.io.File(base))
        .filter(_.getName.endsWith(".parquet"))
        .map(f => f.getAbsolutePath -> f.length())
        .toMap
    }
    val before = files()
    val compacted = graft.llm.Similarity.annCompact(spark, base, tomb, minDeletedShare = 0.3)
    assert(compacted == Seq(hotCid), s"expected only the hot cell compacted, got $compacted")
    val after = files()
    // cold cells keep their files byte-for-byte; the hot cell's were replaced
    before.foreach { case (p, sz) =>
      if (!p.contains(s"cid=$hotCid")) assert(after.get(p).contains(sz), s"cold-cell file changed: $p")
      else assert(!after.contains(p), s"hot-cell file survived compaction: $p")
    }
    // the view is invariant across compaction, and the applied
    // tombstones are retired
    assert(canon(graft.llm.Similarity.annServeView(spark, base, tomb)) == expect)
    assert(spark.read.parquet(tomb).count() == 0L)
  }

  // A crash between the two renames of the tombstone rewrite leaves no
  // live sidecar: the old tombstones at `.prev` and, when the rewrite
  // had completed, its table at `.next`. Serving must read that state in
  // place, a delete must recover it before appending, and compaction
  // must publish over it — deleted vectors never come back.
  test("ANN delete cadence survives a tombstone rewrite interrupted between its renames") {
    import spark.implicits._
    val emb = core.Tables.embeddings(spark, sf)
    val cents = emb
      .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("v"))
      .filter(col("vec_id") < 16)
      .orderBy(col("vec_id"))
      .collect()
      .map(_.getSeq[Double](1).toArray)
    val assigned = graft.llm.Similarity.ivfAssign(emb, cents).localCheckpoint()
    val hotCid = assigned.groupBy(col("cid")).count().orderBy(col("count").desc, col("cid").asc).head.getLong(0)
    val doomed = assigned
      .filter(col("cid") === hotCid)
      .select(col("vec_id"))
      .orderBy(col("vec_id"))
      .collect()
      .map(_.getLong(0))
      .zipWithIndex
      .collect { case (id, i) if i % 2 == 0 => id }
    val (first, later) = doomed.splitAt(doomed.length / 2)
    def path(s: String) = new org.apache.hadoop.fs.Path(s)
    def canon(df: org.apache.spark.sql.DataFrame) = df.select(col("vec_id")).collect().map(_.getLong(0)).sorted.toSeq
    def minus(ids: Seq[Long]) = canon(assigned.filter(!col("vec_id").isInCollection(ids)))
    for (nextDone <- Seq(true, false); deleteFirst <- Seq(true, false)) {
      val tag = s"${if (nextDone) "next" else "prev"}_${if (deleteFirst) "delete" else "compact"}"
      val dir = java.nio.file.Files.createTempDirectory(s"graft_tomb_window_$tag").toString
      val (base, tomb) = (s"$dir/store", s"$dir/t")
      val fs = path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
      assigned.write.partitionBy("cid").mode("overwrite").parquet(base)
      graft.llm.Similarity.annDelete(first.toSeq.toDF("vec_id"), tomb)
      assert(fs.rename(path(tomb), path(s"$tomb.prev")))
      if (nextDone) graft.llm.Similarity.annDelete(first.toSeq.toDF("vec_id"), s"$tomb.next")
      assert(!fs.exists(path(tomb)))
      assert(canon(graft.llm.Similarity.annServeView(spark, base, tomb)) == minus(first), tag)
      val deleted = if (deleteFirst) {
        graft.llm.Similarity.annDelete(later.toSeq.toDF("vec_id"), tomb)
        assert(canon(graft.llm.Similarity.annServeView(spark, base, tomb)) == minus(doomed), tag)
        doomed.toSeq
      } else first.toSeq
      graft.llm.Similarity.annCompact(spark, base, tomb, minDeletedShare = 0.1)
      assert(canon(graft.llm.Similarity.annServeView(spark, base, tomb)) == minus(deleted), tag)
      assert(canon(spark.read.parquet(base)) == minus(deleted), s"$tag: compaction left deleted rows in the store")
      assert(!fs.exists(path(s"$tomb.prev")) && !fs.exists(path(s"$tomb.next")), s"$tag: swap debris")
    }
  }

  test("annRetrain: view equals a full rebuild under the new centroids; untouched cells keep their files") {
    val emb = core.Tables.embeddings(spark, sf)
    val vd = emb.select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("v"))
    // STALE centroids: raw first-16 data rows (what a drifted index
    // would still be probing with)
    val stale = vd
      .filter(col("vec_id") < 16)
      .orderBy(col("vec_id"))
      .collect()
      .map(_.getSeq[Double](1).toArray)
    val base = java.nio.file.Files.createTempDirectory("graft_store_retrain").toString
    graft.llm.Similarity
      .ivfAssign(emb, stale)
      .write.partitionBy("cid").mode("overwrite").parquet(base)
    def files(): Map[String, Long] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isFile) Seq(f)
        else Option(f.listFiles()).getOrElse(Array.empty).toSeq.flatMap(walk)
      walk(new java.io.File(base))
        .filter(_.getName.endsWith(".parquet"))
        .map(f => f.getAbsolutePath -> f.length())
        .toMap
    }
    val before = files()
    val (newCents, touched) =
      graft.llm.Similarity.annRetrain(spark, base, sampleFrac = 0.5, k = 16)
    assert(touched.nonEmpty, "kmeans refit over a first-16-seeded layout should move members")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select(col("vec_id"), col("cid").cast("long"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1)))
        .sorted
        .toSeq
    // the retrained store IS a full re-assignment under the new centroids
    assert(
      canon(spark.read.parquet(base)) == canon(graft.llm.Similarity.ivfAssign(emb, newCents)),
      "delta rewrite diverged from the full rebuild"
    )
    // cells no member entered or left keep their files byte-for-byte
    val touchedSet = touched.map(c => s"cid=$c").toSet
    val after = files()
    before.foreach { case (p, sz) =>
      if (!touchedSet.exists(p.contains)) {
        assert(after.get(p).contains(sz), s"untouched-cell file changed: $p")
      }
    }
  }

  test("streaming HLL register store finalizes windows equal to the batch estimate") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq = spark.sqlContext
    val hourNs = 3600000000000L
    // three hours of traffic, users overlapping across hours, delivered
    // OUT OF ORDER within the watermark; a final far-future row closes
    // every window
    val evs = Seq(
      (0L, 101L), (0L, 102L), (0L, 101L), (0L, 103L),
      (1L, 102L), (1L, 104L), (1L, 105L),
      (2L, 101L), (2L, 106L)
    ).map { case (h, u) => (u, h * hourNs + (u % 7) * 60000000000L) }
    val input = MemoryStream[(Long, java.sql.Timestamp)]
    val stream = input.toDF().toDF("user_id", "ts")
    val q = graft.llm.Sketches
      .hllRegStream(stream, delay = "30 minutes")
      .writeStream
      .outputMode("append")
      .format("memory")
      .queryName("hll_regs")
      .start()
    def t(ns: Long) = new java.sql.Timestamp(ns / 1000000L)
    // batch 1: hour 0 + an hour-1 row; batch 2: the REST of hour 0 (late
    // but inside the watermark) + hour 1; batch 3: hour 2; batch 4 closes
    input.addData(evs.take(3).map { case (u, ns) => (u, t(ns)) }: _*)
    q.processAllAvailable()
    input.addData(evs.slice(3, 7).map { case (u, ns) => (u, t(ns)) }: _*)
    q.processAllAvailable()
    input.addData(evs.drop(7).map { case (u, ns) => (u, t(ns)) }: _*)
    q.processAllAvailable()
    input.addData((999L, t(10L * hourNs)))
    q.processAllAvailable()
    val progs = q.recentProgress
    q.stop()
    val streamed = graft.llm.Sketches
      .hllEstimateFromRegs(
        spark.sql("SELECT w_start, reg, mx FROM hll_regs")
          .select(unix_micros(col("w_start")).as("g"), col("reg"), col("mx"))
      )
      .collect()
      .map(r => (r.getLong(0) / 3600000000L, r.getDouble(1)))
      .toMap
    import spark.implicits._
    val batch = graft.llm.Sketches
      .hllDistinctWindowed(evs.toDF("user_id", "ts_ns"))
      .collect()
      .map(r => (r.getLong(0), r.getDouble(2)))
      .toMap
    assert(streamed.keySet.intersect(Set(0L, 1L, 2L)) == Set(0L, 1L, 2L), s"windows missing: $streamed")
    Seq(0L, 1L, 2L).foreach { h =>
      assert(streamed(h) == batch(h), s"hour $h: streamed ${streamed(h)} vs batch ${batch(h)}")
    }
    val removed = progs.flatMap(_.stateOperators.map(_.numRowsRemoved)).sum
    assert(removed > 0, "watermark never evicted register state")
  }

  test("streaming ANN serving equals the batch IVF answers across micro-batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq = spark.sqlContext
    val emb = core.Tables.embeddings(spark, sf)
    // deterministic first-16 centroids — the same gate config ivfTopk pins
    val vd = emb.select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("v"))
    val cents = vd
      .filter(col("vec_id") < 16)
      .orderBy(col("vec_id"))
      .collect()
      .map(_.getSeq[Double](1).toArray)
    val cells = graft.llm.Similarity.ivfAssign(emb, cents)
    val qRows = vd
      .filter(col("vec_id") < 10)
      .orderBy(col("vec_id"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1)))
    val input = MemoryStream[(Long, Seq[Double])]
    val queries = input.toDF().toDF("qid", "embedding")
    val q = graft.llm.Similarity
      .serveStream(queries, cells, cents)
      .writeStream
      .outputMode("complete")
      .format("memory")
      .queryName("serve_out")
      .start()
    input.addData(qRows.take(5).toSeq: _*)
    q.processAllAvailable()
    input.addData(qRows.drop(5).toSeq: _*)
    q.processAllAvailable()
    q.stop()
    def canon(rows: Array[org.apache.spark.sql.Row]) =
      rows
        .map(r =>
          (
            r.getAs[Long]("qid"),
            r.getAs[Long]("vid"),
            r.getAs[Double]("cos"),
            r.getAs[Number]("rank").intValue()
          )
        )
        .sortBy(t => (t._1, t._4))
        .toSeq
    val got = canon(spark.sql("SELECT * FROM serve_out").collect())
    val want = canon(graft.llm.Similarity.ivfTopk(emb).collect())
    assert(got.size == want.size && got == want, s"stream serving diverged:\n$got\nvs\n$want")
  }
}
