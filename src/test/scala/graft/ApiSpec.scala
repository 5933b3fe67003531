package graft

import org.scalatest.funsuite.AnyFunSuite

class ApiSpec extends AnyFunSuite {
  import TestSpark._

  private lazy val sig = core.Signal.long(spark, sf)

  test("facade mirrors the reference call shapes end to end") {
    assert(Api.Kaiser(10, 20, 100).apply(sig).count() > 0)
    assert(Api.Hamming(10, 20, 100).apply(sig, mode = "valid").count() > 0)
    assert(Api.Butter(10, 20, 100).apply(sig, dephase = true).count() > 0)
    assert(Api.Ellip(10, 20, 100).order == 4)
    assert(Api.downsample(sig, 2, 100).count() > 0)
    assert(Api.psd(sig).count() > 0)
    assert(Api.plv(sig).count() == 10)
  }

  test("filter viewer methods: frequency and impulse responses") {
    val fr = Api.Butter(10, 20, 100).frequencyResponse(spark, 100.0).collect()
    assert(fr.length == 512)
    val dc = fr.minBy(_.getDouble(1)) // k = 0
    assert(math.abs(dc.getDouble(2) - 1.0) < 1e-3, s"DC gain ${dc.getDouble(2)}")
    assert(fr.filter(_.getDouble(1) >= 25).forall(_.getDouble(3) <= -39.9), "stopband leak")
    assert(Api.Kaiser(10, 20, 100).impulseResponse(spark, 100.0).count() >= 100)
    assert(Api.Butter(10, 20, 100).impulseResponse(spark, 100.0).count() == 100)
    // FIR path: a = [1.0] exercises the empty sin-polynomial branch
    val firFr = Api.Kaiser(10, 20, 100).frequencyResponse(spark, 100.0).collect()
    assert(firFr.length == 512)
    val firDc = firFr.minBy(_.getDouble(1))
    assert(math.abs(firDc.getDouble(2) - 1.0) < 1e-2, s"FIR DC gain ${firDc.getDouble(2)}")
    assert(firFr.filter(_.getDouble(1) >= 25).forall(_.getDouble(3) <= -39.0), "FIR stopband leak")
  }

  test("facade designs equal the operator-layer designs") {
    assert(Api.Kaiser(10, 20, 100).coeffs.sameElements(operators.FirOps.kaiserLp))
    assert(Api.Butter(10, 20, 100).sos.map(_.toSeq).toSeq ==
      operators.IirOps.butterLp.map(_.toSeq).toSeq)
    // every other design name against the core design it wraps, at
    // non-default gains so a swapped argument shows
    import core.{Dsp, Iir, Remez}
    def sos(f: Api.IirFilter) = f.sos.map(_.toSeq).toSeq
    val windows = Seq[(String, (Double, Double, Double) => Api.FirFilter)](
      "rectangular" -> Api.Rectangular, "bartlett" -> Api.Bartlett,
      "hann" -> Api.Hann, "blackman" -> Api.Blackman
    )
    for ((name, design) <- windows)
      assert(design(10, 20, 100).coeffs.sameElements(Dsp.firDesign(name, Seq(10), Seq(20), 100)), name)
    assert(Api.KaiserBand(Seq(10, 30), Seq(5, 35), 100, 0.5, 50).coeffs
      .sameElements(Dsp.firDesign("kaiser", Seq(10, 30), Seq(5, 35), 100, 0.5, 50)))
    assert(Api.RemezLp(10, 20, 100, 0.5, 50).coeffs.sameElements(Remez.lowpass(10, 20, 100, 0.5, 50)))
    assert(Api.RemezBp(5, 10, 20, 30, 100, 0.5, 50).coeffs
      .sameElements(Remez.bandpass(5, 10, 20, 30, 100, 0.5, 50)))
    assert(Api.Hilbert(10, 100, 0.05, 50).coeffs
      .sameElements(operators.HilbertOps.hilbertDesign(10, 100, 0.05, 50)))
    assert(sos(Api.Cheby1(10, 20, 100, 0.5, 50)) == sos(Api.IirFilter(Iir.cheby1Sos(10, 20, 0.5, 50, 100))))
    assert(sos(Api.Cheby2(10, 20, 100, 0.5, 50)) == sos(Api.IirFilter(Iir.cheby2Sos(10, 20, 0.5, 50, 100))))
    assert(sos(Api.Notch(50, 30, 250)) == sos(Api.IirFilter(Iir.notchSos(50, 30, 250))))
  }

  test("facade resampling, spectra, ba-form filters and coupling equal the operator layer") {
    import operators.{HilbertOps, IirOps, ResampleOps, SpectraOps}
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq.mkString("|")).sorted.toSeq
    def same(facade: org.apache.spark.sql.DataFrame, op: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val got = rows(facade)
      assert(got.nonEmpty && got == rows(op), name)
    }
    same(Api.upsample(sig, 2, 100), ResampleOps.upsample(sig, 2, ResampleOps.antiAlias(2, 1, 100)), "upsample")
    same(Api.resample(sig, 3, 2, 100), ResampleOps.resample(sig, 3, 2, ResampleOps.antiAlias(3, 2, 100)), "resample")
    same(Api.stft(sig), SpectraOps.stft(sig), "stft")
    val (b, a) = (Array(0.5, 0.5), Array(1.0, -0.2))
    same(Api.lfilter(sig, b, a), IirOps.lfilter(sig, b, a), "lfilter")
    same(Api.filtfilt(sig, b, a), IirOps.filtfiltBa(sig, b, a), "filtfilt")
    same(Api.analytic(sig), HilbertOps.analytic(sig), "analytic")
    same(Api.phasePower(sig), HilbertOps.phasePower(sig), "phasePower")
  }

  test("facade EDF write and read round-trip within int16 quantization") {
    import spark.implicits._
    val rnd = new scala.util.Random(5)
    val recs = for (ch <- Seq("a", "b"); n <- 0 until 128)
      yield ("r0", ch, n.toLong, rnd.nextDouble() * 100 - 50)
    val dir = sources.Scratch.dir("api_edf")
    Api.writeEdf(recs.toDF("recording", "channel", "n", "x"), dir, fs = 64, samplesPerRecord = 64)
    val back = Api
      .readEdf(spark, s"$dir/*.edf")
      .select("channel", "n", "x")
      .as[(String, Long, Double)]
      .collect()
      .map { case (ch, n, x) => (ch, n) -> x }
      .toMap
    assert(back.size == recs.size)
    recs.foreach { case (_, ch, n, x) => assert(math.abs(back((ch, n)) - x) <= 100.0 / 65534.0 * 1.01, s"$ch $n") }
  }

  // Api is the openseize port surface only: nothing in the engine
  // routes through it, it forwards to no LLM-data or streaming module,
  // and the write-aside-and-rename swap is written once, in core.Scale.
  test("source audit: Api stays the openseize surface and the swap lives in Scale") {
    import java.nio.file.{Files, Path, Paths}
    import scala.jdk.CollectionConverters._
    val root = Paths.get("src/main/scala/graft")
    val files = Files.walk(root).iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
    def src(f: Path) = new String(Files.readAllBytes(f), "UTF-8")
    val apiFile = root.resolve("Api.scala")
    val apiCallers = files.filter(f => f != apiFile && "\\bApi\\.".r.findFirstIn(src(f)).nonEmpty)
    assert(apiCallers.isEmpty, s"Api referenced in ${apiCallers.mkString(", ")}")
    val forwards = "\\b(llm|streaming)\\.[A-Za-z]".r.findAllIn(src(apiFile)).toSeq
    assert(forwards.isEmpty, s"Api references ${forwards.distinct.mkString(", ")}")
    val swaps = files.filter(f => "\\.(next|prev)\"".r.findFirstIn(src(f)).nonEmpty)
    assert(swaps.map(root.relativize(_).toString) == Seq("core/Scale.scala"), s"swap paths in ${swaps.mkString(", ")}")
  }

  test("round-7 selection facade endpoints run end to end") {
    val docs = graft.core.Tables.documents(spark, sf)
    assert(llm.TextStats.gopher(docs).columns.last == "pass")
    assert(llm.TextStats.gopher(docs).count() == docs.count())
    assert(llm.Curation.c4Clean(docs).count() == docs.count())
    assert(llm.Dsir.weights(docs).count() > 0)
    assert(llm.TextStats.langidNgram(docs).count() == docs.count())
    assert(llm.Bpe.gateMerges(docs).length == graft.llm.Bpe.nMerges)
    assert(llm.Bpe.tokensBpe(docs).count() == docs.count())
    assert(llm.Bpe.packBpe(docs).count() == docs.count())
    assert(llm.Bpe.mixBpe(docs).count() > 0)
    assert(llm.Dedup.spanRemoval(docs).count() == docs.count())
    assert(llm.Curation.curateLlm(docs).count() > 0)
  }

  test("round-9 facade endpoints run end to end") {
    import org.apache.spark.sql.functions._
    val docs = core.Tables.documents(spark, sf)
    val emb = core.Tables.embeddings(spark, sf)
    val orders = core.Tables.orders(spark, sf)
    assert(llm.Sketches.corpusProfile(docs).count() > 0)
    assert(llm.Dedup.hashEmbedDupes(docs).columns.toSeq == Seq("doc_a", "doc_b", "cos"))
    assert(llm.Dedup.keepBest(docs).count() == docs.count())
    assert(llm.Similarity.pcaTopK(spark, emb, 2).count() == 2 * 64)
    assert(llm.Similarity.pcaWhiten(spark, emb, 2).count() == 2 * emb.count())
    val counters = llm.Sketches
      .dyadicCounters(
        orders,
        col("o_orderpriority"),
        expr("CAST(floor(o_totalprice) AS BIGINT)")
      )
      .collect()
      .map(r => (r.getString(0), r.getInt(1), r.getInt(2), r.getLong(3)) -> r.getLong(4))
      .toMap
    val g = orders.select(col("o_orderpriority")).head.getString(0)
    val n = orders.filter(col("o_orderpriority") === g).count()
    val med = llm.Sketches.quantileFromCounters(counters, g, n, 0.5)
    assert(med > 0, s"descended median $med")
  }

  test("ProfileService: init + ingest merge == single-pass profile, served grid-only") {
    import org.apache.spark.sql.functions._
    val docs = core.Tables.documents(spark, sf)
    val store = sources.Scratch.dir("api_profile_service")
    val h2 = conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10).cast("long") % 2
    // continuous-ingest cadence: seed with one slice, ingest the other
    llm.Sketches.ProfileService.init(docs.filter(h2 === 0), store)
    llm.Sketches.ProfileService.ingest(docs.filter(h2 === 1), store)
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).sortBy(_.mkString("|")).toSeq
    // the served profile and quantiles come from the STORE ONLY and
    // must equal the single-pass full-corpus answers exactly
    assert(canon(llm.Sketches.ProfileService.profile(spark, store)) == canon(llm.Sketches.corpusProfile(docs)))
    assert(
      canon(llm.Sketches.ProfileService.quantiles(spark, store)) ==
        canon(llm.Sketches.corpusProfileQuantiles(docs))
    )
    // the store is the documented bounded layout: one grid table whose
    // row count is corpus-independent (≤ sources·(m + L·d·w + 1))
    val grid = spark.read.parquet(s"$store/grid")
    assert(grid.columns.toSeq == Seq("source", "kind", "k1", "k2", "k3", "mx", "cnt", "sm"))
    val nSources = docs.select(col("source")).distinct().count()
    val bound = nSources * (llm.Sketches.hllRegisters +
      llm.Sketches.qLevels * llm.Sketches.qDepth * llm.Sketches.qWidth + 1)
    assert(grid.count() <= bound, s"grid ${grid.count()} exceeds bound $bound")
    // a second ingest keeps serving consistent (monotone doc counts)
    llm.Sketches.ProfileService.ingest(docs.filter(h2 === 1).limit(5), store)
    val n2 = llm.Sketches.ProfileService
      .profile(spark, store)
      .agg(sum(col("n_docs")))
      .head
      .getLong(0)
    assert(n2 == docs.count() + 5)
  }

  test("ProfileService.merge: two independently-ingested stores consolidate == single-pass") {
    import org.apache.spark.sql.functions._
    val docs = core.Tables.documents(spark, sf)
    val storeA = sources.Scratch.dir("api_profile_merge_a")
    val storeB = sources.Scratch.dir("api_profile_merge_b")
    val dest = sources.Scratch.dir("api_profile_merge_dest")
    val h2 = conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10).cast("long") % 2
    // two clusters, each profiling only its own slice
    llm.Sketches.ProfileService.init(docs.filter(h2 === 0), storeA)
    llm.Sketches.ProfileService.init(docs.filter(h2 === 1), storeB)
    llm.Sketches.ProfileService.merge(spark, storeA, storeB, dest)
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).sortBy(_.mkString("|")).toSeq
    assert(canon(llm.Sketches.ProfileService.profile(spark, dest)) == canon(llm.Sketches.corpusProfile(docs)))
    assert(
      canon(llm.Sketches.ProfileService.quantiles(spark, dest)) ==
        canon(llm.Sketches.corpusProfileQuantiles(docs))
    )
    // dest may alias an input: consolidating INTO storeA must serve the
    // same fleet-wide profile (the swap writes aside before it renames)
    llm.Sketches.ProfileService.merge(spark, storeA, storeB, storeA)
    assert(canon(llm.Sketches.ProfileService.profile(spark, storeA)) == canon(llm.Sketches.corpusProfile(docs)))
    // no stray swap debris
    val fs = new org.apache.hadoop.fs.Path(dest).getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$dest/grid.next")))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$dest/grid.prev")))
  }

  test("ProfileService.ingestStream: zero-state stream profiles == single-pass over the union") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val docs = core.Tables.documents(spark, sf).select("doc_id", "text", "lang", "source")
    val rows = docs.collect()
    val (b1, b2) = rows.splitAt(rows.length / 2)
    val store = sources.Scratch.dir("api_profile_stream")
    val input = MemoryStream[(Long, String, String, String)]
    val q = llm.Sketches.ProfileService.ingestStream(
      input.toDF().toDF("doc_id", "text", "lang", "source"),
      store
    )
    def tup(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getString(1), r.getString(2), r.getString(3))
    input.addData(b1.map(tup).toIndexedSeq) // first batch seeds the store
    q.processAllAvailable()
    input.addData(b2.map(tup).toIndexedSeq)
    q.processAllAvailable()
    val progs = q.recentProgress
    q.stop()
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).sortBy(_.mkString("|")).toSeq
    assert(canon(llm.Sketches.ProfileService.profile(spark, store)) == canon(llm.Sketches.corpusProfile(docs)))
    // the stream itself holds ZERO state — the grid is the only memory
    assert(progs.flatMap(_.stateOperators).isEmpty, "profile ingest must hold no streaming state")
  }

  test("UpsertStore.upsertStream: zero-state out-of-order stream == collapse of the union") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sq = spark.sqlContext
    // (user_id, event_id, ts_us, k) with batch 2 INTERLEAVED in time
    // (user 1's latest row arrives in batch 1, so the batch-2 upsert
    // must not clobber it — latest-wins is a max, not last-writer)
    val all = Seq(
      (1L, 10L, 100L, 7L), (1L, 11L, 300L, 9L), (2L, 12L, 50L, 3L),
      (1L, 13L, 200L, 8L), (2L, 14L, 60L, 4L), (3L, 15L, 10L, 1L)
    )
    val (b1, b2) = all.splitAt(3)
    val store = sources.Scratch.dir("api_upsert_stream")
    val input = MemoryStream[(Long, Long, Long, Long)]
    val q = streaming.StreamOps.UpsertStore.upsertStream(
      input.toDF().toDF("user_id", "event_id", "ts_us", "k"),
      store
    )
    input.addData(b1) // seeds
    q.processAllAvailable()
    input.addData(b2)
    q.processAllAvailable()
    val progs = q.recentProgress
    q.stop()
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).sortBy(_.mkString("|")).toSeq
    val full = streaming.StreamOps.UpsertStore.collapse(all.toDF("user_id", "event_id", "ts_us", "k"))
    assert(canon(streaming.StreamOps.UpsertStore.serve(spark, store)) == canon(full))
    // user 1: k=9 at ts 300 (from batch 1) survives the batch-2 upsert
    val u1 = streaming.StreamOps.UpsertStore.serve(spark, store).filter($"user_id" === 1L).head()
    assert(u1.getLong(1) == 9L && u1.getLong(4) == 3L, s"u1: $u1")
    assert(progs.flatMap(_.stateOperators).isEmpty, "upsert stream must hold no streaming state")
  }

  // A crash between the swap's two renames leaves no live table: the
  // old state at `.prev` and, when the new write had completed, the new
  // state at `.next`. The next ingest or upsert, batch or stream, must
  // recover it and serve the single pass over everything ingested.
  test("services recover a publish interrupted between its two renames") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions._
    import spark.implicits._
    implicit val sq = spark.sqlContext
    import llm.Sketches.ProfileService
    import streaming.StreamOps.UpsertStore
    def path(s: String) = new org.apache.hadoop.fs.Path(s)
    val fs = path(sources.Scratch.dir("crash_window_fs")).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def canon(df: DataFrame) = df.collect().map(_.toSeq).sortBy(_.mkString("|")).toSeq
    // plants the crash window at `table`: `old` published and moved to
    // `.prev`; with `nextDone`, `old` then `next` published in a second
    // store and that table moved to `.next`, complete
    def plant(table: String, nextDone: Boolean)(old: String => Unit, next: String => Unit): Unit = {
      val store = table.substring(0, table.lastIndexOf('/'))
      val leaf = table.substring(table.lastIndexOf('/'))
      old(store)
      assert(fs.rename(path(table), path(s"$table.prev")))
      if (nextDone) {
        val aside = sources.Scratch.dir(s"crash_window_aside${store.hashCode.abs}")
        old(aside)
        next(aside)
        assert(fs.exists(path(s"$aside$leaf/_SUCCESS")))
        assert(fs.rename(path(s"$aside$leaf"), path(s"$table.next")))
      }
      assert(!fs.exists(path(table)))
    }
    def swept(table: String): Unit =
      assert(!fs.exists(path(s"$table.prev")) && !fs.exists(path(s"$table.next")), s"swap debris at $table")

    val docs = core.Tables.documents(spark, sf).select("doc_id", "text", "lang", "source")
    val h3 = conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10).cast("long") % 3
    val Seq(dA, dB, dC) = (0 to 2).map(i => docs.filter(h3 === i))
    val ev = Seq(
      (1L, 10L, 100L, 7L), (2L, 11L, 50L, 3L), (1L, 12L, 300L, 9L),
      (3L, 13L, 10L, 1L), (2L, 14L, 60L, 4L), (1L, 15L, 200L, 8L)
    )
    def evDf(rows: Seq[(Long, Long, Long, Long)]) = rows.toDF("user_id", "event_id", "ts_us", "k")
    val Seq(eA, eB, eC) = ev.grouped(2).toSeq
    for (nextDone <- Seq(true, false); stream <- Seq(false, true)) {
      val tag = s"${if (nextDone) "next" else "prev"}_${if (stream) "stream" else "batch"}"
      val pStore = sources.Scratch.dir(s"crash_window_profile_$tag")
      plant(s"$pStore/grid", nextDone)(ProfileService.init(dA, _), ProfileService.ingest(dB, _))
      if (stream) {
        val in = MemoryStream[(Long, String, String, String)]
        val q = ProfileService.ingestStream(in.toDF().toDF("doc_id", "text", "lang", "source"), pStore)
        in.addData(dC.as[(Long, String, String, String)].collect().toIndexedSeq)
        q.processAllAvailable()
        q.stop()
      } else ProfileService.ingest(dC, pStore)
      val pWant = llm.Sketches.corpusProfile(if (nextDone) dA.union(dB).union(dC) else dA.union(dC))
      assert(canon(ProfileService.profile(spark, pStore)) == canon(pWant), s"profile $tag")
      swept(s"$pStore/grid")

      val uStore = sources.Scratch.dir(s"crash_window_upsert_$tag")
      plant(s"$uStore/table", nextDone)(UpsertStore.seed(evDf(eA), _), UpsertStore.upsert(evDf(eB), _))
      if (stream) {
        val in = MemoryStream[(Long, Long, Long, Long)]
        val q = UpsertStore.upsertStream(in.toDF().toDF("user_id", "event_id", "ts_us", "k"), uStore)
        in.addData(eC)
        q.processAllAvailable()
        q.stop()
      } else UpsertStore.upsert(evDf(eC), uStore)
      val uWant = UpsertStore.collapse(evDf(if (nextDone) eA ++ eB ++ eC else eA ++ eC))
      assert(canon(UpsertStore.serve(spark, uStore)) == canon(uWant), s"upsert $tag")
      swept(s"$uStore/table")
    }
  }

  // Serving is a pure read. A complete `.next` beside the live table (a
  // writer between its write and its renames) is left alone; a reader
  // inside the rename window serves the table the swap is publishing,
  // or the old one when `.next` never completed; no read renames or
  // deletes anything.
  test("serving reads an interrupted swap in place and never changes the store") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.functions._
    import spark.implicits._
    import llm.Sketches.ProfileService
    import streaming.StreamOps.UpsertStore
    def path(s: String) = new org.apache.hadoop.fs.Path(s)
    val fs = path(sources.Scratch.dir("serve_window_fs")).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def canon(df: DataFrame) = df.collect().map(_.toSeq).sortBy(_.mkString("|")).toSeq
    def layout(table: String) = Seq(table, s"$table.next", s"$table.next/_SUCCESS", s"$table.prev").map(p => fs.exists(path(p)))
    // `table` holds the old state; `aside` (a second store's table) the
    // new one, complete. Moves it to `table.next`, then walks the swap.
    def walk(table: String, aside: String)(serve: () => Seq[Seq[Any]], old: Seq[Seq[Any]], nu: Seq[Seq[Any]]): Unit = {
      def served(want: Seq[Seq[Any]], state: String): Unit = {
        val before = layout(table)
        assert(core.Scale.published(spark, table), state)
        assert(serve() == want, state)
        assert(layout(table) == before, s"serving changed the store: $state")
      }
      assert(fs.rename(path(aside), path(s"$table.next")))
      served(old, "complete .next beside the live table")
      assert(fs.rename(path(table), path(s"$table.prev")))
      served(nu, "between the two renames")
      assert(fs.delete(path(s"$table.next"), true))
      served(old, "live moved aside, .next never completed")
    }

    val docs = core.Tables.documents(spark, sf).select("doc_id", "text", "lang", "source")
    val h2 = conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10).cast("long") % 2
    val Seq(dA, dB) = (0 to 1).map(i => docs.filter(h2 === i))
    val (pStore, pAside) = (sources.Scratch.dir("serve_window_profile"), sources.Scratch.dir("serve_window_profile_aside"))
    ProfileService.init(dA, pStore)
    ProfileService.init(dA, pAside)
    ProfileService.ingest(dB, pAside)
    def profiled(p: () => DataFrame, q: () => DataFrame) = canon(p()) ++ canon(q())
    walk(s"$pStore/grid", s"$pAside/grid")(
      () => profiled(() => ProfileService.profile(spark, pStore), () => ProfileService.quantiles(spark, pStore)),
      profiled(() => llm.Sketches.corpusProfile(dA), () => llm.Sketches.corpusProfileQuantiles(dA)),
      profiled(() => llm.Sketches.corpusProfile(docs), () => llm.Sketches.corpusProfileQuantiles(docs))
    )

    def evDf(rows: Seq[(Long, Long, Long, Long)]) = rows.toDF("user_id", "event_id", "ts_us", "k")
    val eA = Seq((1L, 10L, 100L, 7L), (2L, 11L, 50L, 3L))
    val eB = Seq((1L, 12L, 300L, 9L), (3L, 13L, 10L, 1L))
    val (uStore, uAside) = (sources.Scratch.dir("serve_window_upsert"), sources.Scratch.dir("serve_window_upsert_aside"))
    UpsertStore.seed(evDf(eA), uStore)
    UpsertStore.seed(evDf(eA), uAside)
    UpsertStore.upsert(evDf(eB), uAside)
    walk(s"$uStore/table", s"$uAside/table")(
      () => canon(UpsertStore.serve(spark, uStore)),
      canon(UpsertStore.collapse(evDf(eA))),
      canon(UpsertStore.collapse(evDf(eA ++ eB)))
    )
  }

  test("IIR band facade mirrors 2-element reference specs") {
    assert(Api.ButterBand(Seq(10, 20), Seq(5, 30), 100).sos.map(_.toSeq).toSeq ==
      operators.IirOps.butterBp.map(_.toSeq).toSeq)
    assert(Api.Cheby1Band(Seq(10, 20), Seq(5, 30), 100).sos.map(_.toSeq).toSeq ==
      operators.IirOps.cheby1Bp.map(_.toSeq).toSeq)
    assert(Api.Cheby2Band(Seq(10, 30), Seq(15, 25), 100).sos.map(_.toSeq).toSeq ==
      operators.IirOps.cheby2Bs.map(_.toSeq).toSeq)
    assert(Api.EllipBand(Seq(10, 30), Seq(15, 25), 100).sos.map(_.toSeq).toSeq ==
      operators.IirOps.ellipBs.map(_.toSeq).toSeq)
    // bandstop applies end to end through the zero-phase path
    assert(Api.Cheby2Band(Seq(10, 30), Seq(15, 25), 100).apply(sig).count() > 0)
    intercept[IllegalArgumentException](Api.ButterBand(Seq(10), Seq(5, 30), 100))
  }
}
