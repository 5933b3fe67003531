package graft

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Edf

class EdfSpec extends AnyFunSuite {
  import TestSpark._

  private def tmpDir = java.nio.file.Files.createTempDirectory("edf_spec").toString

  test("EDF write→read round-trips within int16 quantization error") {
    val rnd = new scala.util.Random(3)
    val chans = Seq(
      "EEG Fp1" -> Array.fill(512)(rnd.nextDouble() * 200 - 100),
      "EEG Fp2" -> Array.fill(512)(rnd.nextDouble() * 50)
    )
    val path = s"$tmpDir/a.edf"
    val hdr = Edf.write(path, chans, fs = 256.0, samplesPerRecord = 128)
    assert(hdr.nRecords == 4 && hdr.nSignals == 2)
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path))
    val back = Edf.decode(bytes).toSeq.groupBy(_._1)
    for ((label, xs) <- chans) {
      val got = back(label).sortBy(_._2).map(_._3)
      val tol = (xs.max - xs.min) / 65534.0 * 1.01
      xs.indices.foreach(i => assert(math.abs(got(i) - xs(i)) <= tol, s"$label[$i]"))
    }
  }

  test("readSpark parallel decode matches local decode") {
    val chans = Seq("c0" -> Array.tabulate(256)(_.toDouble), "c1" -> Array.fill(256)(7.0))
    val path = s"$tmpDir/b.edf"
    Edf.write(path, chans, fs = 128.0, samplesPerRecord = 64)
    val df = Edf.readSpark(spark, path)
    assert(df.count() == 512)
    val c0 = df.filter("channel = 'c0'").orderBy("n").collect().map(_.getDouble(3))
    assert(math.abs(c0(100) - 100.0) < 0.01)
  }

  test("writeSpark writes one executor-side EDF per recording, round-trips") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val rnd = new scala.util.Random(11)
    val rows = for {
      rec <- Seq("r0", "r1", "r2")
      ch <- Seq("a", "b")
      n <- 0 until 128
    } yield (rec, ch, n.toLong, rnd.nextDouble() * 100 - 50)
    val df = rows.toDF("recording", "channel", "n", "x")
    val dir = tmpDir
    Edf.writeSpark(df, dir, fs = 64.0, samplesPerRecord = 64)
    val files = new java.io.File(dir).listFiles().map(_.getName).sorted
    assert(files.toSeq == Seq("r0.edf", "r1.edf", "r2.edf"))
    val back = Edf
      .readSpark(spark, s"$dir/*.edf")
      .select(
        regexp_extract(col("src"), "(r\\d)\\.edf", 1).as("recording"),
        col("channel"),
        col("n"),
        col("x")
      )
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)) -> r.getDouble(3))
      .toMap
    assert(back.size == rows.size)
    val byKey = rows.map(r => (r._1, r._2, r._3) -> r._4).toMap
    val tol = 100.0 / 65534.0 * 1.01
    byKey.foreach { case (k, v) => assert(math.abs(back(k) - v) <= tol, s"$k") }
  }

  test("writeSpark handles many recordings per partition (state-machine handoff)") {
    import spark.implicits._
    // 40 recordings over 4 shuffle partitions forces ~10 sequential
    // recordings through each task's open-file state machine
    val rows = for {
      r <- 0 until 40
      n <- 0 until 64
    } yield (f"rec$r%02d", "ch", n.toLong, (r * 64 + n).toDouble % 97)
    val dir = tmpDir
    Edf.writeSpark(rows.toDF("recording", "channel", "n", "x"), dir, fs = 64.0, samplesPerRecord = 64)
    assert(new java.io.File(dir).listFiles().length == 40)
    val back = Edf.readSpark(spark, s"$dir/*.edf")
    assert(back.count() == 40L * 64)
    // spot-check one mid-pack recording decodes to its own values
    val r17 = back
      .filter(org.apache.spark.sql.functions.col("src").contains("rec17"))
      .orderBy("n")
      .collect()
      .map(_.getDouble(3))
    val want = (0 until 64).map(n => (17 * 64 + n).toDouble % 97)
    val tol = 97.0 / 65534.0 * 1.01
    r17.zip(want).foreach { case (g, w) => assert(math.abs(g - w) <= tol) }
  }

  test("writeSpark writes the same bytes as the driver-side write") {
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    val spr = 64
    // per recording: a noisy channel, a constant one (physRange's
    // widened-range branch) and one past |x| = 1000 (whole-number bounds)
    val recs = Seq("r0", "r1", "r2").map { rec =>
      rec -> Seq(
        "a" -> Array.fill(3 * spr)(rnd.nextDouble() * 200 - 100),
        "b" -> Array.fill(3 * spr)(7.25),
        "c" -> Array.fill(3 * spr)(-1500 - rnd.nextDouble() * 3000)
      )
    }
    val rows = for ((rec, chans) <- recs; (ch, xs) <- chans; n <- xs.indices) yield (rec, ch, n.toLong, xs(n))
    val df = spark.sparkContext.parallelize(rnd.shuffle(rows), 3).toDF("recording", "channel", "n", "x")
    val dist = tmpDir
    val local = tmpDir
    Edf.writeSpark(df, dist, fs = 64.0, samplesPerRecord = spr)
    for ((rec, chans) <- recs) {
      Edf.write(s"$local/$rec.edf", chans, fs = 64.0, samplesPerRecord = spr)
      def bytes(dir: String) = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(s"$dir/$rec.edf"))
      assert(java.util.Arrays.equals(bytes(dist), bytes(local)), s"$rec.edf differs")
    }
  }

  test("writeSpark evaluates its input once") {
    import spark.implicits._
    val rows = for (rec <- Seq("r0", "r1"); ch <- Seq("a", "b"); n <- 0 until 128)
      yield (rec, ch, n.toLong, (n % 17).toDouble)
    val seen = spark.sparkContext.longAccumulator("writeSpark input rows")
    val df = spark.sparkContext
      .parallelize(rows, 2)
      .map { r => seen.add(1); r }
      .toDF("recording", "channel", "n", "x")
    Edf.writeSpark(df, tmpDir, fs = 64.0, samplesPerRecord = 64)
    assert(seen.value == rows.size)
  }

  test("writeSpark rejects non-dense or unequal channels before creating the file") {
    import spark.implicits._
    val tmp = java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"))
    def spools(): Set[String] = {
      val s = java.nio.file.Files.list(tmp)
      try s.iterator().asScala.map(_.getFileName.toString).filter(_.startsWith("graft_edf_")).toSet
      finally s.close()
    }
    def ch(name: String, ns: Seq[Int]) = ns.map(n => ("r0", name, n.toLong, n.toDouble))
    val bad = Seq(
      "gap in n" -> (ch("a", (0 to 6) :+ 8) ++ ch("b", 0 to 7)),
      "unequal lengths" -> (ch("a", 0 to 7) ++ ch("b", 0 to 3)),
      "duplicate n" -> (ch("a", (0 to 7) :+ 5) ++ ch("b", 0 to 7)),
      "partial record" -> (ch("a", 0 to 5) ++ ch("b", 0 to 5))
    )
    val before = spools()
    for ((what, rows) <- bad) {
      val dir = tmpDir
      val e = intercept[Exception] {
        Edf.writeSpark(rows.toDF("recording", "channel", "n", "x"), dir, fs = 4.0, samplesPerRecord = 4)
      }
      assert(e.getMessage.contains("recording r0"), s"$what: ${e.getMessage}")
      assert(new java.io.File(dir).list().isEmpty, s"$what left a file")
    }
    assert(spools() == before, "a spool file was left behind")
  }

  test("ranged read decodes only the needed records and channels") {
    import org.apache.spark.sql.functions.col
    val chans = Seq(
      "c0" -> Array.tabulate(256)(_.toDouble),
      "c1" -> Array.tabulate(256)(i => 255.0 - i)
    )
    val dir = tmpDir
    val full = s"$dir/full.edf"
    Edf.write(full, chans, fs = 64.0, samplesPerRecord = 64) // 4 records
    // ranged read == full read restricted to [100, 150)
    val ranged = Edf
      .readSpark(spark, full, start = 100, stop = 150)
      .collect()
      .map(r => (r.getString(1), r.getLong(2)) -> r.getDouble(3))
      .toMap
    assert(ranged.size == 2 * 50 && ranged.keys.forall { case (_, n) => n >= 100 && n < 150 })
    val fullRead = Edf
      .readSpark(spark, full)
      .filter(col("n") >= 100 && col("n") < 150)
      .collect()
      .map(r => (r.getString(1), r.getLong(2)) -> r.getDouble(3))
      .toMap
    assert(ranged == fullRead)
    // channel subset decodes only that channel
    val one = Edf.readSpark(spark, full, channels = Seq("c1")).collect()
    assert(one.length == 256 && one.forall(_.getString(1) == "c1"))
    // proof of record pruning: chop the last 2 data records off the file
    // (header still claims 4); a reader that touched bytes past record 1
    // would hit EOF, a ranged read of records 0-1 must succeed
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(full))
    val hdr = Edf.parseHeader(bytes)
    val cut = java.util.Arrays.copyOf(bytes, hdr.headerBytes + 2 * hdr.recordBytes)
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/cut.edf"), cut)
    val pruned = Edf.readSpark(spark, s"$dir/cut.edf", start = 0, stop = 128)
    assert(pruned.count() == 2 * 128)
  }

  test("splitter produces readable per-channel files") {
    val chans = Seq("a" -> Array.fill(128)(1.0), "b" -> Array.fill(128)(2.0))
    val dir = tmpDir
    Edf.write(s"$dir/in.edf", chans, fs = 64.0, samplesPerRecord = 64)
    Edf.splitter(s"$dir/in.edf", Seq(Seq(0), Seq(1)), Seq(s"$dir/s0.edf", s"$dir/s1.edf"), fs = 64.0)
    val h0 = Edf.parseHeader(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(s"$dir/s0.edf")))
    assert(h0.labels == Vector("a"))
  }
}

class StreamSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  test("windowed agg over a memory stream matches its batch twin") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq = spark.sqlContext
    val input = MemoryStream[(Long, String, Double)]
    val events = input.toDF().toDF("ts_ns", "event_type", "value")
    val agg = graft.streaming.StreamOps.windowedAgg(events)
    val q = agg.writeStream
      .outputMode("complete")
      .format("memory")
      .queryName("win_out")
      .start()
    val rows = Seq(
      (1000000000L * 100, "a", 1.0),
      (1000000000L * 200, "a", 2.0),
      (3600000000000L + 5, "b", 5.0)
    )
    input.addData(rows: _*)
    q.processAllAvailable()
    val got = spark.sql("SELECT * FROM win_out ORDER BY hour_bucket, event_type").collect()
    q.stop()
    assert(got.length == 2)
    assert(got(0).getString(1) == "a" && got(0).getLong(2) == 2 && got(0).getDouble(3) == 3.0)
    assert(got(1).getString(1) == "b" && got(1).getLong(2) == 1)
  }

  test("anomaly bucket stream: closed buckets equal the batch counts; scored tail flags the planted burst") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq = spark.sqlContext
    val input = MemoryStream[(Long, String, Double)]
    val events = input.toDF().toDF("ts_ns", "event_type", "value")
    val q = graft.streaming.StreamOps
      .anomalyBucketsStream(events)
      .writeStream
      .outputMode("append")
      .format("memory")
      .queryName("anom_buckets")
      .start()
    val h = 3600000000000L
    // 26 calm hours with mild variation, then hour 26 bursts to 40
    val rows = (0 until 26).flatMap { b =>
      (0 until (2 + b % 3)).map(j => (b * h + j * 1000L + 1L, "a", 0.0))
    } ++ (0 until 40).map(j => (26 * h + j * 1000L + 1L, "a", 0.0)) ++
      Seq((40 * h, "a", 0.0)) // closer: advances the watermark past hour 27
    input.addData(rows: _*)
    q.processAllAvailable()
    q.stop()
    val emitted = spark
      .sql("SELECT event_type, bucket, cnt FROM anom_buckets")
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .toSet
    // closed buckets match the batch per-bucket counts exactly
    val expected = rows
      .groupBy(r => r._1 / h)
      .view
      .filterKeys(_ <= 27)
      .map { case (b, rs) => ("a", b, rs.size.toLong) }
      .toSet
    assert(emitted == expected, s"emitted $emitted\nexpected $expected")
    // the shared scorer over the emitted store flags ONLY the burst
    // (buckets 24+ have the full 24-bucket history)
    val scored = graft.BaseQueries
      .anomalyScore(spark.createDataFrame(emitted.toSeq).toDF("event_type", "bucket", "cnt"))
      .collect()
      .map(r => r.getAs[Long]("bucket") -> r.getAs[Boolean]("is_spike"))
      .toMap
    assert(scored(26L), "burst bucket must flag")
    assert(scored.filter(_._2).keySet == Set(26L), s"only the burst should flag: $scored")
  }

  test("retention stream: per-user bitmask state emits each (user, week) once; rollup equals the batch cohort counts") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[(Long, Long)]
    val events = input.toDF().toDF("user_id", "ts_ns")
    val q = graft.streaming.StreamOps
      .retentionStream(events)
      .writeStream
      .outputMode("append")
      .format("memory")
      .queryName("ret_out")
      .start()
    val wkNs = 604800000000000L
    // 40 users, staggered cohorts, gappy activity, REPEAT events within
    // weeks (mask dedup), intra-batch disorder; delivered in two waves
    // split by week so no user's first contact arrives late
    val rnd = new scala.util.Random(11)
    val rows = (0L until 40L).flatMap { u =>
      val cohort = u % 3
      (0 to 8).filter(o => (u + o) % 4 != 1).flatMap { o =>
        val wk = cohort + o
        Seq.fill(1 + rnd.nextInt(3))((u, wk * wkNs + (u % 100) * 1000000L))
      }
    }
    val (w1, w2) = rows.partition(_._2 < 5 * wkNs)
    input.addData(rnd.shuffle(w1): _*)
    q.processAllAvailable()
    input.addData(rnd.shuffle(w2): _*)
    q.processAllAvailable()
    q.stop()
    val emitted = spark
      .sql("SELECT cohort_wk, week_offset, user_id FROM ret_out")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(emitted.distinct.length == emitted.length, "a (user, week) pair re-emitted")
    // rollup over the emitted store == the batch gate's aggregation
    val got = emitted
      .groupBy(e => (e._1, e._2))
      .map { case (k, es) => (k._1, k._2, es.map(_._3).distinct.length.toLong) }
      .toSet
    val batch = rows
      .map { case (u, ns) => (u, ns / wkNs) }
      .distinct
      .groupBy(_._1)
      .toSeq
      .flatMap { case (u, uws) =>
        val cohort = uws.map(_._2).min
        uws.map(_._2).distinct.map(wk => (cohort, wk - cohort, u))
      }
      .groupBy(e => (e._1, e._2))
      .map { case (k, es) => (k._1, k._2, es.map(_._3).distinct.length.toLong) }
      .toSet
    assert(got == batch, s"stream rollup ${got.size} cells != batch ${batch.size}")
  }

  test("markov stream: chained bigrams across batches equal the batch lag window's transition counts") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[(Long, Long, Long, String)]
    val events = input.toDF().toDF("user_id", "event_id", "ts_ns", "event_type")
    val q = graft.streaming.StreamOps
      .markovStream(events)
      .writeStream
      .outputMode("append")
      .format("memory")
      .queryName("mkv_out")
      .start()
    val types = Array("view", "click", "purchase", "error")
    val rnd = new scala.util.Random(31)
    // 20 users × 12 events each; per-user event-time order respected
    // ACROSS the two waves (the documented contract), shuffled within
    val rows = (0L until 20L).flatMap { u =>
      (0 until 12).map(i => (u, u * 100 + i, (i * 1000L + u) * 1000000000L, types(rnd.nextInt(4))))
    }
    val (w1, w2) = rows.partition(_._3 < 6000L * 1000000000L)
    input.addData(rnd.shuffle(w1): _*)
    q.processAllAvailable()
    input.addData(rnd.shuffle(w2): _*)
    q.processAllAvailable()
    q.stop()
    val got = spark
      .sql("SELECT prev_type, next_type, count(*) AS n FROM mkv_out GROUP BY 1, 2")
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      .toSet
    // batch twin: per-user (ts, id)-ordered lag chain over ALL rows
    val expected = rows
      .groupBy(_._1)
      .toSeq
      .flatMap { case (_, es) =>
        val sorted = es.sortBy(e => (e._3, e._2)).map(_._4)
        sorted.sliding(2).collect { case Seq(a, b) => (a, b) }
      }
      .groupBy(identity)
      .map { case ((a, b), g) => (a, b, g.size.toLong) }
      .toSet
    assert(got == expected, s"stream ${got.size} cells != batch ${expected.size}")
  }

  test("hopping-window stream: closed windows equal the batch gate's explode form; emitted once; state evicted") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq = spark.sqlContext
    val input = MemoryStream[(Long, String, Double)]
    val events = input.toDF().toDF("ts_ns", "event_type", "value")
    val q = graft.streaming.StreamOps
      .hopWinStream(events)
      .writeStream
      .outputMode("append")
      .format("memory")
      .queryName("hop_out")
      .start()
    val h = 3600000000000L // ns per hour
    // out-of-order events over ~4 hours, two types, then a far-future
    // closer to advance the watermark past every real window
    val rnd = new scala.util.Random(7)
    val rows = (0 until 200).map { i =>
      val t = (rnd.nextInt(4 * 3600)).toLong * 1000000000L + 12 * h
      (t, if (i % 3 == 0) "b" else "a", rnd.nextInt(500) / 100.0)
    } :+ (40 * h, "closer", 0.0)
    // shuffled arrival within the wave (out-of-order), then the closer —
    // a second wave BELOW the advanced watermark would be late data and
    // dropped by design, so the waves split at the watermark, not rows
    input.addData(rnd.shuffle(rows.init): _*)
    q.processAllAvailable()
    input.addData(rows.last)
    q.processAllAvailable()
    val progs = q.recentProgress
    q.stop()
    val emitted = spark
      .sql("SELECT win_start_us, event_type, n, sum_cents FROM hop_out")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    // emitted once: no duplicate (window, type) keys across batches
    val keys = emitted.map(e => (e._1, e._2))
    assert(keys.distinct.length == keys.length, "a window re-emitted")
    // batch-twin equality: the gate's L/S = 2 integral explode over the
    // same rows (closed windows only — everything before the closer)
    val S = 1800000000L
    val expected = rows.init
      .flatMap { case (ns, ty, v) =>
        val us = (ns - ns % 1000) / 1000
        val cents = math.floor(v * 100 + 0.5).toLong
        Seq(((us / S) * S, ty, cents), ((us / S - 1) * S, ty, cents))
      }
      .groupBy(e => (e._1, e._2))
      .map { case ((w, ty), es) => (w, ty, es.size.toLong, es.map(_._3).sum) }
      .toSet
    assert(emitted.toSet == expected, s"stream ${emitted.size} rows != batch ${expected.size}")
    // watermark evicted closed-window state
    val removed = progs.flatMap(_.stateOperators.map(_.numRowsRemoved)).sum
    assert(removed > 0, "watermark never evicted hopping-window state")
  }

  test("watermarked event-time window stream runs") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq = spark.sqlContext
    val input = MemoryStream[(Long, String, Double)]
    val events = input.toDF().toDF("ts_ns", "event_type", "value")
    val q = graft.streaming.StreamOps
      .windowedAggStream(events)
      .writeStream
      .outputMode("append")
      .format("memory")
      .queryName("wm_out")
      .start()
    input.addData((1000000000L, "a", 1.0), (7200L * 1000000000L, "a", 2.0))
    q.processAllAvailable()
    q.stop()
    // append mode emits only watermark-closed windows; the first window
    // (hour 0) closes once the hour-2 event advances the watermark
    val n = spark.sql("SELECT count(*) FROM wm_out").collect()(0).getLong(0)
    assert(n >= 1, s"expected at least the closed hour-0 window, got $n")
  }

  test("late data beyond the watermark is dropped, closed windows never re-emit") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq = spark.sqlContext
    val input = MemoryStream[(Long, String, Double)]
    val events = input.toDF().toDF("ts_ns", "event_type", "value")
    val q = graft.streaming.StreamOps
      .windowedAggStream(events)
      .writeStream
      .outputMode("append")
      .format("memory")
      .queryName("wm_late_out")
      .start()
    val hour = 3600L * 1000000000L
    input.addData((1000000000L, "a", 1.0)) // hour-0 window
    q.processAllAvailable()
    input.addData((3 * hour, "a", 2.0)) // advances watermark to hour 2
    q.processAllAvailable()
    input.addData((4 * hour, "a", 3.0)) // next batch flushes closed windows
    q.processAllAvailable()
    // hour-0 is closed and emitted exactly once with the on-time event
    val h0 = spark
      .sql("SELECT n, sum_value FROM wm_late_out WHERE window.start = to_timestamp(0)")
      .collect()
    assert(h0.length == 1, s"hour-0 emitted ${h0.length} times")
    assert(h0(0).getLong(0) == 1 && h0(0).getDouble(1) == 1.0)
    input.addData((2000000000L, "a", 100.0)) // 4h late: beyond watermark
    input.addData((5 * hour, "a", 4.0)) // force another batch + flush
    q.processAllAvailable()
    q.stop()
    val h0After = spark
      .sql("SELECT n, sum_value FROM wm_late_out WHERE window.start = to_timestamp(0)")
      .collect()
    assert(h0After.length == 1, "late event re-opened a closed window")
    assert(h0After(0).getLong(0) == 1 && h0After(0).getDouble(1) == 1.0, "late event leaked into hour-0")
  }

  test("watermark evicts closed-window aggregation state across batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq = spark.sqlContext
    val input = MemoryStream[(Long, String, Double)]
    val events = input.toDF().toDF("ts_ns", "event_type", "value")
    val q = graft.streaming.StreamOps
      .windowedAggStream(events)
      .writeStream
      .outputMode("append")
      .format("memory")
      .queryName("wm_gc_out")
      .start()
    val hour = 3600L * 1000000000L
    // two state rows (types a, b) in hour 0; each later batch advances
    // the watermark past the previous window, finalizing + evicting it
    input.addData((1000000000L, "a", 1.0), (2000000000L, "b", 2.0))
    q.processAllAvailable()
    input.addData((3 * hour, "a", 3.0))
    q.processAllAvailable()
    input.addData((6 * hour, "a", 4.0))
    q.processAllAvailable()
    input.addData((9 * hour, "a", 5.0))
    q.processAllAvailable()
    val progs = q.recentProgress
    q.stop()
    val emitted = spark
      .sql("SELECT event_type, n FROM wm_gc_out WHERE window.start = to_timestamp(0) ORDER BY event_type")
      .collect()
    assert(emitted.length == 2, s"hour-0 windows not finalized: ${emitted.length}")
    val removed = progs.flatMap(_.stateOperators.map(_.numRowsRemoved)).sum
    assert(removed > 0, "watermark never evicted window state")
    val totals = progs.flatMap(_.stateOperators.map(_.numRowsTotal))
    assert(totals.last < totals.max, s"window state not bounded: ${totals.toSeq}")
  }

  test("streaming top-n: foreachBatch rank upsert finalizes hour-0 exactly; state evicted") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq = spark.sqlContext
    val input = MemoryStream[(Long, Long)]
    val events = input.toDF().toDF("ts_ns", "user_id")
    // the production sink shape: append-mode aggregate -> per-batch rank
    // -> upsert keyed by (window, rank)
    val store = scala.collection.mutable.Map.empty[(Long, Long), (Long, Long)]
    val q = graft.streaming.StreamOps
      .windowTopNStream(events)
      .writeStream
      .outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("start"))
          .orderBy(col("n_events").desc, col("user_id").asc)
        batch
          .select(col("window.start").as("start"), col("user_id"), col("n_events"))
          .withColumn("rk", row_number().over(w))
          .filter(col("rk") <= 3)
          .collect()
          .foreach { r =>
            store((r.getAs[java.sql.Timestamp]("start").getTime, r.getAs[Int]("rk").toLong)) =
              (r.getAs[Long]("user_id"), r.getAs[Long]("n_events"))
          }
        ()
      }
      .start()
    val hour = 3600L * 1000000000L
    // hour-0 activity: user 1 x3, user 2 x2, users 3 and 4 x1
    input.addData((1000000000L, 1L), (2000000000L, 1L), (3000000000L, 2L))
    q.processAllAvailable()
    input.addData((4000000000L, 1L), (5000000000L, 2L), (6000000000L, 3L), (7000000000L, 4L))
    q.processAllAvailable()
    input.addData((3 * hour, 9L)) // watermark past hour-0: finalize it
    q.processAllAvailable()
    input.addData((5 * hour, 9L)) // extra batch flushes + evicts
    q.processAllAvailable()
    val progs = q.recentProgress
    q.stop()
    // append mode emits hour-0's counts once, complete — the per-batch
    // rank over that emission IS the final top-3 (ties on user_id)
    val h0 = store.toSeq.collect { case ((0L, rk), (u, n)) => (rk, u, n) }.sorted
    assert(h0 == Seq((1L, 1L, 3L), (2L, 2L, 2L), (3L, 3L, 1L)), s"hour-0 top-3: $h0")
    val removed = progs.flatMap(_.stateOperators.map(_.numRowsRemoved)).sum
    assert(removed > 0, "watermark never evicted top-n aggregate state")
  }
}

class MultimodalSpec extends AnyFunSuite {
  import TestSpark._

  test("wav spectral bands equal a reference DFT; a bin-3 sine concentrates in band 3") {
    import spark.implicits._
    val n = 64
    val samples = Array.tabulate(100)(t => (800 * math.sin(2 * math.Pi * 3 * t / n)).toShort)
    val media = Seq((7L, graft.llm.Multimodal.encodeWav(samples))).toDF("media_id", "payload")
    val row = graft.llm.Multimodal.wavSpectral(media).collect()(0)
    val frame = samples.take(n).map(_.toDouble)
    val etot = frame.map(x => x * x).sum
    def share(k: Int): Double = {
      val c = (0 until n).map(t => frame(t) * math.cos(2 * math.Pi * k * t / n)).sum
      val s = (0 until n).map(t => frame(t) * math.sin(2 * math.Pi * k * t / n)).sum
      (c * c + s * s) / (n / 2.0 * etot)
    }
    for (k <- 1 to 4)
      assert(math.abs(row.getDouble(k) - share(k)) < 2e-6, s"band $k: ${row.getDouble(k)} vs ${share(k)}")
    assert(row.getDouble(3) > 0.9, s"bin-3 sine should dominate band 3: $row")
  }

  test("decodeFeatures emits one feature row per media row") {
    val media = graft.llm.Multimodal.syntheticMedia(spark, sf)
    val feats = graft.llm.Multimodal.decodeFeatures(media)
    assert(feats.count() == media.count())
    val r = feats.filter("media_id = 0").collect()(0)
    assert(r.getDouble(1) > 0 && r.getDouble(2) > 0)
  }

  test("frameSample keeps every k-th fixed-size frame") {
    val media = graft.llm.Multimodal.syntheticMedia(spark, sf)
    val frames = graft.llm.Multimodal.frameSample(media, everyK = 2)
    assert(frames.count() > 0)
    assert(frames.filter("frame_idx % 2 != 0").count() == 0)
  }

  test("PNG codec round-trips the grayscale raster exactly") {
    val rnd = new scala.util.Random(7)
    val (w, h) = (37, 23)
    val gray = Array.fill(w * h)(rnd.nextInt(256).toByte)
    val png = graft.llm.Multimodal.encodePng(gray, w, h)
    assert(png.take(4).toSeq == Seq[Byte](0x89.toByte, 'P', 'N', 'G'))
    val (dw, dh, back) = graft.llm.Multimodal.decodePng(png)
    assert(dw == w && dh == h && back.toSeq == gray.toSeq)
  }

  test("WAV codec round-trips PCM16 exactly through javax.sound") {
    val rnd = new scala.util.Random(8)
    val samples = Array.fill(500)((rnd.nextInt(65536) - 32768).toShort)
    val wav = graft.llm.Multimodal.encodeWav(samples)
    assert(new String(wav.take(4), "US-ASCII") == "RIFF")
    assert(graft.llm.Multimodal.decodeWav(wav).toSeq == samples.toSeq)
  }

  test("bilinear resize matches hand-computed values and real resize keeps PNG dims") {
    // 2x2 -> 4x4 with half-pixel centers: corners keep source values,
    // interior blends 25/75
    val src = Array[Byte](0, 100.toByte, (200 & 0xff).toByte, 40)
    val out = graft.llm.Multimodal.bilinearResize(src, 2, 2, 4, 4)
    assert((out(0) & 0xff) == 0 && (out(3) & 0xff) == 100)
    assert((out(12) & 0xff) == 200 && (out(15) & 0xff) == 40)
    assert((out(1) & 0xff) == 25) // 0.75*0 + 0.25*100
    val media = graft.llm.Multimodal.pngMedia(spark, sf)
    val resized = graft.llm.Multimodal.resize(media, 8, 8).limit(5).collect()
    resized.foreach { r =>
      val (w, h, g) = graft.llm.Multimodal.decodePng(r.getAs[Array[Byte]]("payload"))
      assert(w == 8 && h == 8 && g.length == 64)
    }
  }
}

class JsonlSpec extends org.scalatest.funsuite.AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  test("JSONL round-trip preserves hostile strings exactly") {
    val rows = Seq(
      (1L, "plain text", "en", "s0", 10L),
      (2L, "quote \" backslash \\ tab \t newline \n done", "en", "s0", 40L),
      (3L, "unicode é中文 emoji 😀 nul-adjacent ", "zh", "s1", 30L),
      (4L, "", "en", "s1", 0L),
      (5L, "{\"looks\": \"like json\"}", "en", "s2", 22L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val tmp = graft.sources.Scratch.dir("jsonl_spec")
    val back = graft.sources.JsonlOps.roundtrip(rows, tmp)
    val a = rows.orderBy("doc_id").collect().map(_.toSeq)
    val b = back.orderBy("doc_id").collect().map(_.toSeq)
    assert(a.length == b.length)
    a.zip(b).foreach { case (x, y) => assert(x == y, s"roundtrip mutated: $x vs $y") }
    // the written files are actually gzip part files
    val files = new java.io.File(tmp).listFiles().map(_.getName)
    assert(files.exists(_.endsWith(".json.gz")), files.toSeq.toString)
  }
}

class SessionizeStreamSpec extends org.scalatest.funsuite.AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  test("sessionize over a multi-batch stream closes sessions across batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq = spark.sqlContext
    val m = 60L * 1000000000L
    val input = MemoryStream[(Long, Long)]
    val events = input.toDF().toDF("ts_ns", "user_id")
      .selectExpr("ts_ns", "user_id", "'e' AS event_type", "0.0 AS value")
    val q = graft.streaming.StreamOps
      .sessionize(events, emitOpen = false)
      .writeStream
      .outputMode("append")
      .format("memory")
      .queryName("sess_out")
      .start()
    input.addData((0 * m, 1L), (10 * m, 1L)) // open session
    q.processAllAvailable()
    input.addData((90 * m, 1L)) // gap > 30min closes the first session
    q.processAllAvailable()
    q.stop()
    val got = spark.sql("SELECT * FROM sess_out ORDER BY start_ns").collect()
    assert(got.length == 1, s"want one closed session, got ${got.length}")
    assert(got(0).getLong(1) == 0L && got(0).getLong(2) == 10 * m && got(0).getInt(3) == 2)
  }

  test("sessionizeStream: a cross-batch late event extends the session without regressing its end") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq = spark.sqlContext
    val m = 60L * 1000000000L // 1 minute in ns
    val input = MemoryStream[(Long, Long)]
    val events = input.toDF().toDF("ts_ns", "user_id")
    val q = graft.streaming.StreamOps
      .sessionizeStream(events)
      .writeStream
      .outputMode("append")
      .format("memory")
      .queryName("sess_late")
      .start()
    val b = 12L * 60 * m // 12:00
    input.addData((b, 1L)) // opens (12:00, 12:00, 1); watermark -> 11:50
    q.processAllAvailable()
    input.addData((b - 5 * m, 1L)) // 11:55 — late but above the watermark
    q.processAllAvailable()
    // 12:28: gap from the true last (12:00) is 28 min <= 30 — one session.
    // A regressed last (11:55) would see 33 min, close an INVERTED
    // (end < start) session and split.
    input.addData((b + 28 * m, 1L))
    q.processAllAvailable()
    input.addData((b + 240 * m, 9L)) // advance watermark far past last+gap
    q.processAllAvailable()
    q.stop()
    val rows = spark
      .sql("SELECT start_ns, end_ns, n_events FROM sess_late WHERE user_id = 1")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(rows.length == 1, s"late event split the session: ${rows.mkString(",")}")
    assert(rows(0) == ((b, b + 28 * m, 3)), s"wrong session bounds: ${rows(0)}")
  }

  test("sessionizeStream times out idle users and evicts their state") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq = spark.sqlContext
    val m = 60L * 1000000000L // 1 minute in ns
    val input = MemoryStream[(Long, Long)]
    val events = input.toDF().toDF("ts_ns", "user_id")
      .selectExpr("ts_ns", "user_id", "'e' AS event_type", "0.0 AS value")
    val q = graft.streaming.StreamOps
      .sessionizeStream(events)
      .writeStream
      .outputMode("append")
      .format("memory")
      .queryName("sess_gc")
      .start()
    // two users open sessions; later batches advance the watermark past
    // (last + gap) so EventTimeTimeout closes them and REMOVES state —
    // the unbounded-key-cardinality guarantee the batch twin can't need.
    // Times sit an hour off epoch zero: a ts equal to the initial
    // watermark (0) is filtered as late before it reaches the fold.
    val b = 60 * m
    input.addData((b + 0 * m, 1L), (b + 10 * m, 1L), (b + 5 * m, 2L))
    q.processAllAvailable()
    input.addData((b + 120 * m, 3L)) // watermark b+110min > last+gap for users 1, 2
    q.processAllAvailable()
    input.addData((b + 240 * m, 4L)) // times out user 3
    q.processAllAvailable()
    input.addData((b + 360 * m, 5L)) // times out user 4
    q.processAllAvailable()
    val progs = q.recentProgress
    q.stop()
    val got = spark
      .sql("SELECT user_id, start_ns, end_ns, n_events FROM sess_gc ORDER BY user_id")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3)))
    assert(got.contains((1L, b, b + 10 * m, 2)), s"user 1 session not finalized: ${got.toSeq}")
    assert(got.contains((2L, b + 5 * m, b + 5 * m, 1)), s"user 2 session not finalized: ${got.toSeq}")
    assert(got.contains((3L, b + 120 * m, b + 120 * m, 1)), s"user 3 session not finalized: ${got.toSeq}")
    val removed = progs.flatMap(_.stateOperators.map(_.numRowsRemoved)).sum
    assert(removed >= 3, s"timeout never evicted session state (removed=$removed)")
    val totals = progs.flatMap(_.stateOperators.map(_.numRowsTotal))
    assert(totals.last < totals.max, s"session state not bounded: ${totals.toSeq}")
  }

  test("funnelStream matches the batch funnel across out-of-order batches; state evicted") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq = spark.sqlContext
    val m = 60L * 1000000000L // 1 minute in ns
    val b = 60 * m // an hour off epoch zero (initial-watermark note above)
    val input = MemoryStream[(Long, Long, Long, String)]
    val events = input.toDF().toDF("user_id", "event_id", "ts_ns", "event_type")
    val q = graft.streaming.StreamOps
      .funnelStream(events)
      .writeStream
      .outputMode("append")
      .format("memory")
      .queryName("funnel_gc")
      .start()
    // batch 1: u1 view; u2 CLICK with no view yet (must buffer, not
    // count); u3 view; u4 click at ts b+2m
    input.addData(
      (1L, 10L, b + 1 * m, "view"),
      (2L, 20L, b + 2 * m, "click"),
      (3L, 30L, b + 1 * m, "view"),
      (4L, 40L, b + 2 * m, "click")
    )
    q.processAllAvailable()
    // batch 2 — OUT OF ORDER: u2's view arrives late with an EARLIER
    // ts, retro-qualifying the buffered click; u4's view arrives at the
    // SAME ts as its click but with a HIGHER event_id — (ts, id) order
    // says the view is after the click, so the click must stay
    // unqualified; u1 clicks; u3 purchases with no click (buffers)
    input.addData(
      (2L, 21L, b + 1 * m, "view"),
      (4L, 41L, b + 2 * m, "view"),
      (1L, 11L, b + 2 * m, "click"),
      (3L, 31L, b + 2 * m, "purchase")
    )
    q.processAllAvailable()
    // batch 3: u1 completes the funnel
    input.addData((1L, 12L, b + 3 * m, "purchase"))
    q.processAllAvailable()
    // advance the watermark past last+horizon to time everyone out,
    // then once more so the timeouts fire and flush
    input.addData((99L, 990L, b + 120 * m, "view"))
    q.processAllAvailable()
    input.addData((98L, 980L, b + 360 * m, "view"))
    q.processAllAvailable()
    val progs = q.recentProgress
    q.stop()
    val got = spark
      .sql("SELECT user_id, t_view, t_click, t_purchase, stage FROM funnel_gc")
      .collect()
      .map(r => r.getLong(0) -> ((Option(r.get(1)), Option(r.get(2)), Option(r.get(3)), r.getLong(4))))
      .toMap
    assert(got.contains(1L) && got.contains(2L) && got.contains(3L) && got.contains(4L),
      s"not all users finalized: ${got.keySet}")
    // and the finalized rows equal the batch twin on the same events
    import spark.implicits._
    val batch = BaseQueries
      .funnel(
        Seq(
          (1L, 10L, b + 1 * m, "view"), (2L, 20L, b + 2 * m, "click"),
          (3L, 30L, b + 1 * m, "view"), (4L, 40L, b + 2 * m, "click"),
          (2L, 21L, b + 1 * m, "view"), (4L, 41L, b + 2 * m, "view"),
          (1L, 11L, b + 2 * m, "click"), (3L, 31L, b + 2 * m, "purchase"),
          (1L, 12L, b + 3 * m, "purchase")
        ).toDF("user_id", "event_id", "ts_ns", "event_type")
      )
      .collect()
      .map(r => r.getLong(0) -> ((Option(r.get(1)), Option(r.get(2)), Option(r.get(3)), r.getLong(4))))
      .toMap
    batch.foreach { case (u, exp) =>
      assert(got(u) == exp, s"user $u: stream ${got(u)} != batch $exp")
    }
    // the designed stage outcomes, explicitly
    assert(got(1L)._4 == 3L, s"u1 should complete the funnel: ${got(1L)}")
    assert(got(2L)._4 == 2L, s"u2's late earlier view must qualify the click: ${got(2L)}")
    assert(got(3L)._4 == 1L, s"u3's purchase without a click must not count: ${got(3L)}")
    assert(got(4L)._4 == 1L, s"u4's same-ts higher-id view must NOT qualify the click: ${got(4L)}")
    val removed = progs.flatMap(_.stateOperators.map(_.numRowsRemoved)).sum
    assert(removed >= 4, s"timeout never evicted funnel state (removed=$removed)")
    val totals = progs.flatMap(_.stateOperators.map(_.numRowsTotal))
    assert(totals.last < totals.max, s"funnel state not bounded: ${totals.toSeq}")
  }
}

class DedupStreamSpec extends org.scalatest.funsuite.AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  test("streaming exact dedup: first arrival wins across batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val docs = input.toDF().toDF("doc_id", "text")
    val q = graft.llm.Dedup
      .dedupStreaming(docs)
      .writeStream
      .outputMode("append")
      .format("memory")
      .queryName("dedup_out")
      .start()
    input.addData((1L, "alpha"), (2L, "beta"))
    q.processAllAvailable()
    input.addData((3L, "alpha"), (0L, "beta")) // dup content; 0 arrives AFTER 2
    q.processAllAvailable()
    q.stop()
    val got = spark
      .sql("SELECT doc_id, is_dup FROM dedup_out ORDER BY doc_id")
      .collect()
      .map(r => r.getLong(0) -> r.getBoolean(1))
      .toMap
    assert(got == Map(1L -> false, 2L -> false, 3L -> true, 0L -> true),
      s"first-arrival-wins violated: $got")
  }
}

class MinhashStreamSpec extends org.scalatest.funsuite.AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  test("streaming minhash LSH: near-dup pair surfaces across batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq = spark.sqlContext
    val base = "the quick brown fox jumps over the lazy dog again and again every day"
    val nearDup = base.replace("lazy", "sleepy") // shares most 3-shingles
    val other = "completely different words having nothing at all in common with anything"
    val input = MemoryStream[(Long, String)]
    val docs = input.toDF().toDF("doc_id", "text")
    val q = graft.llm.Dedup
      .minhashDupStreaming(docs)
      .writeStream
      .outputMode("append")
      .format("memory")
      .queryName("mh_stream_out")
      .start()
    input.addData((1L, base), (2L, other))
    q.processAllAvailable()
    val afterBatch1 = spark.sql("SELECT * FROM mh_stream_out").count()
    input.addData((3L, nearDup)) // arrives a batch later, must hit 1's buckets via state
    q.processAllAvailable()
    q.stop()
    val pairs = spark
      .sql("SELECT doc_a, doc_b FROM mh_stream_out")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    assert(afterBatch1 == 0, s"no pairs expected within batch 1, got $afterBatch1")
    assert(pairs.contains((1L, 3L)), s"cross-batch near-dup pair missing: $pairs")
    assert(!pairs.exists(p => p._1 == 2L || p._2 == 2L), s"unrelated doc paired: $pairs")
  }

  test("batch mode equals the batch candidate set") {
    val docs = Seq(
      (10L, "alpha beta gamma delta epsilon zeta eta theta"),
      (11L, "alpha beta gamma delta epsilon zeta eta iota"),
      (12L, "one two three four five six seven eight")
    ).toDF("doc_id", "text")
    val stream = graft.llm.Dedup
      .minhashDupStreaming(docs)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    val batch = graft.llm.Dedup
      .minhashCandidates(docs)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    assert(stream == batch, s"stream $stream != batch $batch")
  }
}

class DecontamStreamSpec extends org.scalatest.funsuite.AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  test("decontam runs as a stream-static join: counts accumulate across batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq = spark.sqlContext
    val bench = Seq((100L, "the secret bench phrase here appears verbatim")).toDF("doc_id", "text")
    val input = MemoryStream[(Long, String)]
    val train = input.toDF().toDF("doc_id", "text")
    // the batch operator works unchanged on a readStream source: the
    // benchmark side is static (broadcast), the per-doc aggregation is
    // a streaming state store keyed by doc_id
    val q = graft.llm.Curation
      .decontamCounts(train, bench)
      .writeStream
      .outputMode("complete")
      .format("memory")
      .queryName("decontam_out")
      .start()
    input.addData((1L, "secret bench phrase here plus extra words padding out"))
    q.processAllAvailable()
    input.addData((2L, "completely different content with no overlap at all"),
      (3L, "the secret bench phrase here too"))
    q.processAllAvailable()
    q.stop()
    val got = spark
      .sql("SELECT doc_id, n_contam FROM decontam_out")
      .collect()
      .map(r => r.getLong(0) -> r.getLong(1))
      .toMap
    // doc 1 shares 2 shingles, doc 3 shares 3 ("the secret bench",
    // "secret bench phrase", "bench phrase here"), doc 2 none
    assert(got == Map(1L -> 2L, 3L -> 3L), s"stream-static decontam: $got")
  }

  test("windowed decontam stream finalizes docs and evicts their state") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq = spark.sqlContext
    val bench = Seq((100L, "the secret bench phrase here appears verbatim")).toDF("doc_id", "text")
    val input = MemoryStream[(Long, String, java.sql.Timestamp)]
    val train = input.toDF().toDF("doc_id", "text", "ts")
    val q = graft.llm.Curation
      .decontamStream(train, bench)
      .writeStream
      .outputMode("append")
      .format("memory")
      .queryName("decontam_gc")
      .start()
    def t(sec: Long) = new java.sql.Timestamp(sec * 1000)
    // four batches with advancing event time: each batch's max ts moves
    // the watermark, finalizing (append-emitting) earlier windows and
    // evicting their aggregation state
    input.addData((1L, "secret bench phrase here plus padding", t(0)))
    q.processAllAvailable()
    input.addData((2L, "the secret bench phrase here too", t(100)))
    q.processAllAvailable()
    input.addData((3L, "no overlap at all whatsoever", t(200)))
    q.processAllAvailable()
    input.addData((4L, "secret bench phrase here again", t(300)))
    q.processAllAvailable()
    val progs = q.recentProgress
    q.stop()
    val got = spark
      .sql("SELECT doc_id, n_contam FROM decontam_gc")
      .collect()
      .map(r => r.getLong(0) -> r.getLong(1))
      .toMap
    // doc 1 shares 2 shingles, doc 2 shares 3; doc 3 none (never
    // emits); doc 4's window is still open at stop
    assert(got.get(1L).contains(2L), s"doc 1 not finalized: $got")
    assert(got.get(2L).contains(3L), s"doc 2 not finalized: $got")
    val removed = progs.flatMap(_.stateOperators.map(_.numRowsRemoved)).sum
    assert(removed > 0, "watermark never evicted aggregation state")
  }
}

class StreamStreamJoinSpec extends org.scalatest.funsuite.AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  test("watermarked stream-stream interval join matches views to purchases across batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq = spark.sqlContext
    val s = 1000000000L // 1 second in ns
    val input = MemoryStream[(Long, Long, String, Long)]
    val events = input.toDF().toDF("event_id", "user_id", "event_type", "ts_ns")
    val q = graft.streaming.StreamOps
      .viewPurchaseJoin(events, windowSec = 100L)
      .writeStream
      .outputMode("append")
      .format("memory")
      .queryName("ssj_out")
      .start()
    // batch 1: two views for user 1, one view for user 2
    input.addData((1L, 1L, "view", 10 * s), (2L, 1L, "view", 50 * s), (3L, 2L, "view", 10 * s))
    q.processAllAvailable()
    // batch 2: purchase by user 1 at t=60 (both views in window) and a
    // purchase by user 2 at t=200 (its view at t=10 is outside 100 s)
    input.addData((4L, 1L, "purchase", 60 * s), (5L, 2L, "purchase", 200 * s))
    q.processAllAvailable()
    q.stop()
    val got = spark
      .sql("SELECT event_id, v_ts FROM ssj_out")
      .collect()
      .map(r => r.getLong(0))
      .groupBy(identity)
      .view
      .mapValues(_.length)
      .toMap
    assert(got == Map(4L -> 2), s"purchase 4 should match both views, purchase 5 none: $got")
  }

  test("watermark GCs interval-join state across batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq = spark.sqlContext
    val s = 1000000000L // 1 second in ns
    val h = 3600L
    val input = MemoryStream[(Long, Long, String, Long)]
    val events = input.toDF().toDF("event_id", "user_id", "event_type", "ts_ns")
    val q = graft.streaming.StreamOps
      .viewPurchaseJoin(events, windowSec = 100L)
      .writeStream
      .outputMode("append")
      .format("memory")
      .queryName("ssj_gc")
      .start()
    // batch 1-2: an early matching pair; batches 3-4 advance event time
    // past the 2 h watermark so the early views' join state is GC'd
    input.addData((1L, 1L, "view", 10 * s), (2L, 2L, "view", 20 * s))
    q.processAllAvailable()
    input.addData((3L, 1L, "purchase", 60 * s))
    q.processAllAvailable()
    input.addData((4L, 3L, "view", 5 * h * s), (5L, 3L, "purchase", 5 * h * s))
    q.processAllAvailable()
    input.addData((6L, 4L, "view", 10 * h * s), (7L, 4L, "purchase", 10 * h * s))
    q.processAllAvailable()
    val progs = q.recentProgress
    q.stop()
    val matched = spark.sql("SELECT event_id FROM ssj_gc").collect().map(_.getLong(0)).toSet
    assert(matched.contains(3L), s"early purchase lost: $matched")
    val totals = progs.flatMap(_.stateOperators.map(_.numRowsTotal))
    val removed = progs.flatMap(_.stateOperators.map(_.numRowsRemoved)).sum
    assert(removed > 0, "watermark never removed join state")
    assert(totals.last < totals.max, s"state not bounded: $totals")
  }

  test("attributionStream: finalized credits equal the batch model across out-of-order batches, state evicts") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq = spark.sqlContext
    val s = 1000000000L // 1 second in ns
    val h = 3600L
    val input = MemoryStream[(Long, Long, String, Long, Double)]
    val events = input.toDF().toDF("event_id", "user_id", "event_type", "ts_ns", "value")
    val q = graft.streaming.StreamOps
      .attributionStream(events, lookbackSec = 100L)
      .writeStream
      .outputMode("append")
      .format("memory")
      .queryName("attr_out")
      .start()
    // batch 1: user 1's touches + user 2's stale view + user 3's
    // PURCHASE (its touch arrives later — out-of-order across batches)
    input.addData(
      (1L, 1L, "view", 10 * s, 0.0),
      (2L, 1L, "click", 50 * s, 0.0),
      (3L, 2L, "view", 30 * s, 0.0),
      (12L, 3L, "purchase", 500 * s, 2.0)
    )
    q.processAllAvailable()
    // batch 2: user 1's purchase (both touches in lookback), user 2's
    // purchase (view 270 s stale > 100 s lookback), user 3's LATE click
    input.addData(
      (10L, 1L, "purchase", 100 * s, 3.0),
      (11L, 2L, "purchase", 300 * s, 5.0),
      (4L, 3L, "click", 400 * s, 0.0)
    )
    q.processAllAvailable()
    // batches 3-4: advance event time hours past watermark + lookback
    // so early join state is GC'd (each also a 1-view purchase, cents 0)
    input.addData((6L, 4L, "view", 5 * h * s, 0.0), (7L, 4L, "purchase", (5 * h + 1) * s, 0.0))
    q.processAllAvailable()
    input.addData((8L, 5L, "view", 10 * h * s, 0.0), (9L, 5L, "purchase", (10 * h + 1) * s, 0.0))
    q.processAllAvailable()
    val progs = q.recentProgress
    q.stop()
    // the rollup half over the emitted store — the batch gate's own
    // credit aggregation (linear = cents·10⁴ div n_t; first/last ranks)
    val credits = graft.streaming.StreamOps
      .attributionCredits(spark.table("attr_out"))
      .collect()
      .map(r => r.getString(0) -> r.toSeq.drop(1))
      .toMap
    // hand-computed batch-model expectation:
    // p10 (300c): view1 + click2 -> linear 1.5M each, first=view, last=click
    // p11: no touches in lookback -> drops (the "direct" complement)
    // p12 (200c): click4 alone -> first=last=click, 2M
    // p7/p9 (0c): one view each -> first=last=view, 0 credit
    assert(
      credits("view") == Seq(3L, 3L, 2L, 1500000L, 3000000L, 0L),
      s"view credits diverge from the batch model: ${credits.get("view")}"
    )
    assert(
      credits("click") == Seq(2L, 1L, 2L, 3500000L, 2000000L, 5000000L),
      s"click credits diverge from the batch model: ${credits.get("click")}"
    )
    val totals = progs.flatMap(_.stateOperators.map(_.numRowsTotal))
    val removed = progs.flatMap(_.stateOperators.map(_.numRowsRemoved)).sum
    assert(removed > 0, "watermark never removed attribution join state")
    assert(totals.last < totals.max, s"attribution state not bounded: $totals")
  }
}

class IncrementalScreenStreamSpec extends org.scalatest.funsuite.AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  test("zero-state streaming LSH screen flags ingest near-dups against the signature store") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq = spark.sqlContext
    val store = graft.sources.Scratch.dir("inc_screen_spec")
    // seed the store from slice A, then APPEND slice B — the ingest cadence
    val sliceA = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "one two three four five six seven eight nine ten")
    ).toDF("doc_id", "text")
    graft.llm.Dedup.writeSignatureStore(sliceA, store, append = false)
    val sliceB = Seq(
      (3L, "red orange yellow green blue indigo violet umber ochre teal")
    ).toDF("doc_id", "text")
    graft.llm.Dedup.writeSignatureStore(sliceB, store, append = true)
    val input = MemoryStream[(Long, String)]
    val docs = input.toDF().toDF("doc_id", "text")
    val q = graft.llm.Dedup
      .incrementalScreenStream(docs, store)
      .writeStream
      .outputMode("append")
      .format("memory")
      .queryName("inc_screen")
      .start()
    input.addData(
      (10L, "alpha beta gamma delta epsilon zeta eta theta iota lambda"), // near-dup of indexed 1
      (11L, "quick brown fox jumps over lazy dog near river bank") // clean
    )
    q.processAllAvailable()
    input.addData(
      (12L, "red orange yellow green blue indigo violet umber ochre teal") // dup of APPENDED 3
    )
    q.processAllAvailable()
    val progs = q.recentProgress
    q.stop()
    val got = spark
      .sql("SELECT doc_new, doc_idx FROM inc_screen")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    assert(got.contains((10L, 1L)), s"planted near-dup not screened: $got")
    assert(got.contains((12L, 3L)), s"appended-slice dup not screened: $got")
    assert(!got.exists(_._1 == 11L), s"clean doc flagged: $got")
    // the screen is STATE-FREE: no stateful operator may appear in any progress
    assert(progs.flatMap(_.stateOperators).isEmpty, "screen must hold zero streaming state")
  }

  test("URL canonicalizer: default-port-only strip, fragment-tail '?' never leaks into the key") {
    import spark.implicits._
    val urls = Seq(
      (1L, "https://host.example.com:8080/p"), // non-default port is identity
      (2L, "https://host.example.com:443/p"), // https default stripped
      (3L, "http://host.example.com:80/p"), // http default stripped
      (4L, "http://host.example.com:443/p"), // 443 is NOT http's default
      (5L, "https://host.example.com/p#f?a=1"), // '?' after '#' is fragment content
      (6L, "https://host.example.com/p?a=1#f?b=2") // real query survives, fragment query dropped
    ).toDF("doc_id", "url")
    val canon = graft.llm.Urls
      .canonicalize(urls)
      .collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("canon"))
      .toMap
    assert(canon(1L) == "host.example.com:8080/p")
    assert(canon(2L) == "host.example.com/p")
    assert(canon(3L) == "host.example.com/p")
    assert(canon(4L) == "host.example.com:443/p")
    assert(canon(5L) == "host.example.com/p")
    assert(canon(6L) == "host.example.com/p?a=1")
  }

  test("urlDedupStream keeps first arrival per canon, screens blocklist, evicts state") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq = spark.sqlContext
    val input = MemoryStream[(Long, String, java.sql.Timestamp)]
    val urls = input.toDF().toDF("doc_id", "url", "ts")
    val q = graft.llm.Urls
      .urlDedupStream(urls)
      .writeStream
      .outputMode("append")
      .format("memory")
      .queryName("url_dedup")
      .start()
    def t(sec: Long) = new java.sql.Timestamp(sec * 1000)
    // batch 1: doc 1's messy variant of canon A + a blocked host
    input.addData(
      (1L, "https://WWW.SiteA.example.com:443/page/?utm_source=x", t(100000)),
      (4L, "http://site7.example.com/spam", t(100000))
    )
    q.processAllAvailable()
    // batch 2: doc 2 = clean variant of canon A (must drop), doc 3 new
    input.addData(
      (2L, "http://sitea.example.com/page", t(100060)),
      (3L, "https://siteb.example.com/other", t(100060))
    )
    q.processAllAvailable()
    // far-future row advances the watermark well past base + 30min,
    // evicting canon-A state
    input.addData((99L, "https://sitez.example.com/closer", t(200000)))
    q.processAllAvailable()
    // beyond the horizon the same canon is re-admitted — the documented
    // watermark-bounded semantic (production re-screens the store)
    input.addData((5L, "https://sitea.example.com/page", t(200050)))
    q.processAllAvailable()
    val progs = q.recentProgress
    q.stop()
    val got = spark
      .sql("SELECT doc_id, canon FROM url_dedup")
      .collect()
      .map(r => (r.getLong(0), r.getString(1)))
      .toSet
    assert(got.contains((1L, "sitea.example.com/page")), s"first arrival missing: $got")
    assert(!got.exists(_._1 == 2L), s"within-horizon canon dup emitted: $got")
    assert(got.contains((3L, "siteb.example.com/other")), s"distinct canon missing: $got")
    assert(!got.exists(_._1 == 4L), s"blocked host emitted: $got")
    assert(got.exists(_._1 == 5L), "beyond-horizon arrival must be re-admitted")
    val removed = progs.flatMap(_.stateOperators.map(_.numRowsRemoved)).sum
    assert(removed > 0, "watermark never evicted canon state")
  }

  test("urlDedupIngest: store re-screen suppresses beyond-horizon re-arrivals, appends fresh canons") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq = spark.sqlContext
    def t(sec: Long) = new java.sql.Timestamp(sec * 1000)
    val store = sources.Scratch.dir("url_ingest_store") + "/canon"
    // seed: canon A is already known to the frontier
    import spark.implicits._
    graft.llm.Urls.seedUrlStore(
      Seq((1L, "https://sitea.example.com/page", t(100000))).toDF("doc_id", "url", "ts"),
      store
    )
    val input = MemoryStream[(Long, String, java.sql.Timestamp)]
    val emitted = scala.collection.mutable.ArrayBuffer.empty[Long]
    val q = graft.llm.Urls.urlDedupIngest(
      input.toDF().toDF("doc_id", "url", "ts"),
      store,
      onBatch = b => emitted ++= b.collect().map(_.getAs[Long]("doc_id"))
    )
    // batch 1: new canon B emits + appends; seeded canon A is screened
    // by the STORE (its canon never entered streaming state)
    input.addData(
      (2L, "http://www.sitea.example.com/page/", t(100060)),
      (3L, "https://siteb.example.com/other", t(100060))
    )
    q.processAllAvailable()
    // batch 2: far-future arrival advances the watermark way past the
    // horizon (evicting canon-B state), then batch 3 re-sends canon B
    // BEYOND the horizon — the store screen must suppress it
    input.addData((4L, "https://sitez.example.com/new", t(200000)))
    q.processAllAvailable()
    input.addData((5L, "https://siteb.example.com/other", t(200100)))
    q.processAllAvailable()
    val progs = q.recentProgress
    q.stop()
    assert(emitted.toSet == Set(3L, 4L), s"expected exactly the fresh canons, got $emitted")
    // the store accumulated the seed + the two fresh canons, once each
    val inStore = spark.read
      .parquet(store)
      .collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("canon")))
      .toSet
    assert(
      inStore == Set(
        (1L, "sitea.example.com/page"),
        (3L, "siteb.example.com/other"),
        (4L, "sitez.example.com/new")
      ),
      s"store contents: $inStore"
    )
    // streaming state still bounded: the watermark op evicted rows
    val removed = progs.flatMap(_.stateOperators.map(_.numRowsRemoved)).sum
    assert(removed > 0, "watermark never evicted canon state")
  }

  test("urlDedupIngest bloom pre-screen: same emissions and store as the plain anti-join") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq = spark.sqlContext
    import spark.implicits._
    def t(sec: Long) = new java.sql.Timestamp(sec * 1000)
    val seed = Seq((1L, "https://sitea.example.com/page", t(100000))).toDF("doc_id", "url", "ts")
    val batches = Seq(
      Seq(
        (2L, "http://www.sitea.example.com/page/", t(100060)), // known to store → screened
        (3L, "https://siteb.example.com/other", t(100060)) // fresh
      ),
      Seq(
        (4L, "https://sitea.example.com/page", t(100120)), // known again
        (5L, "https://sitec.example.com/third", t(100120)) // fresh
      )
    )
    def run(bloom: Long): (Set[Long], Set[(Long, String)]) = {
      val store = sources.Scratch.dir(s"url_ingest_bloom_$bloom") + "/canon"
      graft.llm.Urls.seedUrlStore(seed, store)
      val input = MemoryStream[(Long, String, java.sql.Timestamp)]
      val emitted = scala.collection.mutable.ArrayBuffer.empty[Long]
      val q = graft.llm.Urls.urlDedupIngest(
        input.toDF().toDF("doc_id", "url", "ts"),
        store,
        onBatch = b => emitted ++= b.collect().map(_.getAs[Long]("doc_id")),
        bloomItems = bloom
      )
      batches.foreach { b => input.addData(b); q.processAllAvailable() }
      q.stop()
      val inStore = spark.read
        .parquet(store)
        .collect()
        .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("canon")))
        .toSet
      (emitted.toSet, inStore)
    }
    val plain = run(0L)
    val bloomed = run(100000L)
    assert(bloomed == plain, s"bloom path diverged: $bloomed vs $plain")
    assert(plain._1 == Set(3L, 5L))
  }

  test("urlDedupIngest bloom pre-screen on an EMPTY store: batch emitted, not dropped") {
    // zero-row store → BloomFilterAggregate yields NULL; the guarded
    // fallback must take the plain anti-join, not null-filter the batch
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq = spark.sqlContext
    import spark.implicits._
    def t(sec: Long) = new java.sql.Timestamp(sec * 1000)
    val empty = Seq
      .empty[(Long, String, java.sql.Timestamp)]
      .toDF("doc_id", "url", "ts")
    val store = sources.Scratch.dir("url_ingest_bloom_empty") + "/canon"
    graft.llm.Urls.seedUrlStore(empty, store)
    val input = MemoryStream[(Long, String, java.sql.Timestamp)]
    val emitted = scala.collection.mutable.ArrayBuffer.empty[Long]
    val q = graft.llm.Urls.urlDedupIngest(
      input.toDF().toDF("doc_id", "url", "ts"),
      store,
      onBatch = b => emitted ++= b.collect().map(_.getAs[Long]("doc_id")),
      bloomItems = 100000L
    )
    input.addData(Seq((1L, "https://sitea.example.com/page", t(100000))))
    q.processAllAvailable()
    q.stop()
    assert(emitted.toSet == Set(1L), s"empty-store bloom dropped the batch: $emitted")
    assert(
      spark.read.parquet(store).count() == 1L,
      "fresh canon not appended through the empty-store path"
    )
  }
}
