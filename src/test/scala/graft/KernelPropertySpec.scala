package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.operators.{FirOps, ResampleOps}

/** Property checks for the block-streaming kernels against naive
  * reference implementations — block/halo indexing across channel
  * boundaries, short channels (< taps), and non-multiple-of-block
  * lengths are exactly where off-by-ones would hide.
  */
class KernelPropertySpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private def naiveSame(x: Array[Double], h: Array[Double]): Array[Double] = {
    val m = h.length; val l = (m - 1) / 2
    Array.tabulate(x.length) { i =>
      var acc = 0.0
      for (k <- 0 until m) {
        val idx = i + l - k
        val t = h(k) * (if (idx >= 0 && idx < x.length) x(idx) else 0.0)
        acc = if (k == 0) t else acc + t
      }
      acc
    }
  }

  private def naivePoly(x: Array[Double], L: Int, M: Int, h: Array[Double]): Array[Double] = {
    val hl = if (L > 1) h.map(_ * L) else h
    val grid = new Array[Double](x.length * L)
    for (i <- x.indices) grid(i * L) = x(i)
    val conv = naiveSame(grid, hl)
    (0 until (grid.length + M - 1) / M).map(j => conv(j * M)).toArray
  }

  private val rnd = new scala.util.Random(21)
  // lengths straddle taps count and are mutually unequal
  private val chans: Seq[(String, Array[Double])] = Seq(
    "a" -> Array.fill(7)(rnd.nextDouble() * 10 - 5),     // shorter than taps
    "b" -> Array.fill(333)(rnd.nextDouble() * 10 - 5),
    "c" -> Array.fill(41)(rnd.nextDouble() * 10 - 5),
    "d" -> Array.fill(1024)(rnd.nextDouble() * 10 - 5)
  )
  private def sigDf = chans
    .flatMap { case (ch, xs) => xs.zipWithIndex.map { case (v, i) => (ch, i.toLong, v) } }
    .toDF("channel", "n", "x")

  test("convPlus matches the naive same-mode convolution on every channel") {
    val h = Array.tabulate(25)(k => math.sin(k + 1.0) / (k + 1.0))
    val got = FirOps
      .convPlus(sigDf, h)
      .collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getDouble(3))
      .toMap
    for ((ch, xs) <- chans) {
      val want = naiveSame(xs, h)
      assert(got.count(_._1._1 == ch) == xs.length, s"$ch row count")
      want.indices.foreach { i =>
        assert(got((ch, i.toLong)) == want(i), s"$ch[$i]") // bit-exact
      }
    }
  }

  test("convPlus block/halo handoff: tiny blocks equal whole-channel results") {
    val h = Array.tabulate(9)(k => (k - 4) * 0.37)
    // blockSizeHint floors at 4·taps = 36: channels b (333) and d (1024)
    // cross many block boundaries
    val whole = FirOps.convPlus(sigDf, h).collect().map(r => (r.getString(0), r.getLong(1)) -> r.getDouble(3)).toMap
    val blocked = FirOps
      .convPlus(sigDf, h, blockSizeHint = 1)
      .collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getDouble(3))
      .toMap
    assert(blocked == whole) // bit-exact across block boundaries
  }

  // a mixed-length bank: the 121-tap kernel is longer than channels a
  // (7) and c (41), and channel e crosses several 484-sample blocks
  private val bank: Seq[Array[Double]] = Seq(
    Array.tabulate(9)(k => (k - 4) * 0.37),
    Array.tabulate(25)(k => math.sin(k + 1.0) / (k + 1.0)),
    Array.tabulate(121)(k => math.cos(k * 0.21) * math.exp(-k / 60.0))
  )
  private val bankChans = chans :+ ("e" -> Array.fill(2000)(rnd.nextDouble() * 10 - 5))
  private def bankDf = bankChans
    .flatMap { case (ch, xs) => xs.zipWithIndex.map { case (v, i) => (ch, i.toLong, v) } }
    .toDF("channel", "n", "x")

  private def bankOut(hs: Seq[Array[Double]], blockSizeHint: Int): Map[(String, Long), Seq[Double]] =
    FirOps
      .convBank(bankDf, hs, blockSizeHint = blockSizeHint)
      .collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getSeq[Double](3))
      .toMap

  test("convBank: every kernel of a mixed-length bank matches the naive convolution") {
    val got = bankOut(bank, 1 << 16)
    for ((ch, xs) <- bankChans) {
      assert(got.count(_._1._1 == ch) == xs.length, s"$ch row count")
      for ((h, q) <- bank.zipWithIndex) {
        val want = naiveSame(xs, h)
        want.indices.foreach { i =>
          assert(got((ch, i.toLong))(q) == want(i), s"kernel $q $ch[$i]") // bit-exact
        }
      }
    }
  }

  test("convBank mixed-halo handoff: tiny blocks equal whole-channel results") {
    // blockSizeHint floors at 4·121 = 484 samples: channels d and e cross
    // block boundaries with the 121-tap halo serving all three kernels
    assert(bankOut(bank, 1) == bankOut(bank, 1 << 16))
    // an all-1-tap bank keeps no halo: its buffer drains at every
    // 4-sample block boundary mid-channel and restarts indexing there
    val one = Seq(Array(2.0))
    val blocked = bankOut(one, 1)
    assert(blocked.size == bankChans.map(_._2.length).sum, "every sample exactly once")
    for ((ch, xs) <- bankChans; i <- xs.indices)
      assert(blocked((ch, i.toLong)) == Seq(2.0 * xs(i)), s"$ch[$i]")
  }

  test("polyResample block/halo handoff: tiny blocks equal large-block results") {
    val h = Array.tabulate(21)(k => math.sin(k * 1.3))
    val whole = ResampleOps.polyResample(sigDf, 3, 2, h).collect().map(r => (r.getString(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val blocked = ResampleOps
      .polyResample(sigDf, 3, 2, h, blockSizeHint = 1)
      .collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getDouble(2))
      .toMap
    assert(blocked == whole)
  }

  test("polyResample matches naive zero-stuff → conv → decimate for several L/M") {
    for ((l, m) <- Seq((1, 2), (3, 1), (3, 2), (2, 3))) {
      val h = Array.tabulate(31)(k => math.cos(k * 0.7) / (k + 2.0))
      val got = ResampleOps
        .polyResample(sigDf, l, m, h)
        .collect()
        .map(r => (r.getString(0), r.getLong(1)) -> r.getDouble(2))
        .toMap
      for ((ch, xs) <- chans) {
        val want = naivePoly(xs, l, m, h).map(v => math.rint(v * 1e6) / 1e6)
        assert(got.count(_._1._1 == ch) == want.length, s"L=$l M=$m $ch count")
        want.indices.foreach { j =>
          val g = got((ch, j.toLong))
          assert(math.abs(g - want(j)) <= 1e-6, s"L=$l M=$m $ch[$j]: $g vs ${want(j)}")
        }
      }
    }
  }

  // ---- text kernels: per-document mapPartitions forms vs the Column
  // forms they replaced (kept here only as references) ----

  private val textRnd = new scala.util.Random(7)
  private val vocab = Seq("a", "bb", "ccc", "the", "of", "Ünïcödé", "漢字", "😀x", "naïve", "z")
  private def randText(n: Int): String = Seq.fill(n)(vocab(textRnd.nextInt(vocab.length))).mkString(" ")
  private def rep(n: Int): String = Seq.fill(n)("x y z").mkString(" ")
  private val edgeTexts: Seq[String] = Seq(
    "", " ", "a  b", "a b ", "  lead and trail  ", "a", "a b", "a b c", "a b c d", "a b c d e",
    "a b c d e f", // w + 2 tokens: exactly one full window
    rep(7), // repeated shingles
    randText(1100), // past maxTokens
    (1 to 1030).map(i => s"t$i").mkString(" "),
    "漢字 Ünïcödé 😀x naïve 漢字 Ünïcödé"
  )
  private lazy val textDocs = {
    val texts = edgeTexts ++ Seq.fill(60)(randText(1 + textRnd.nextInt(140)))
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
  }

  test("chunkSums kernel equals the exploded md5 (chunk, bucket) sums") {
    import graft.llm.{Dedup, TextStats}
    val toks = slice(split(col("text"), " "), 1, TextStats.maxTokens)
    val ch = textDocs
      .select(col("doc_id"), toks.as("toks"), least(size(toks), lit(TextStats.maxTokens)).as("dl"))
      .select(
        col("doc_id"),
        col("toks"),
        explode(sequence(lit(0), expr(s"(dl - 1) div ${Dedup.rcChunkTok}").cast("int"))).as("c")
      )
      .select(
        col("doc_id"),
        col("c").cast("long").as("chunk_id"),
        slice(col("toks"), (col("c") * Dedup.rcChunkTok + lit(1)).cast("int"), lit(Dedup.rcChunkTok)).as("ctoks")
      )
    val refSums = ch
      .select(col("doc_id"), col("chunk_id"), explode(col("ctoks")).as("tok"))
      .select(
        col("doc_id"),
        col("chunk_id"),
        (conv(substring(md5(col("tok")), 1, 8), 16, 10).cast("long") % Dedup.rcDim).as("bucket"),
        (conv(substring(md5(col("tok")), 9, 1), 16, 10).cast("long") % 2 * 2 - 1).as("sign")
      )
      .groupBy(col("doc_id"), col("chunk_id"), col("bucket"))
      .agg(sum(col("sign")).as("s"))
      .filter(col("s") =!= 0)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    val kernel = Dedup.chunkSums(textDocs).collect().map(r => (r.getLong(0), r.getLong(1), r.getSeq[Int](2)))
    assert(kernel.forall(_._3.length == Dedup.rcDim))
    val keys = kernel.map(k => (k._1, k._2))
    assert(keys.toSeq.sorted == ch.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted, "chunk keys differ")
    val sums = kernel.flatMap { case (d, c, s) =>
      s.zipWithIndex.collect { case (v, b) if v != 0 => (d, c, b.toLong, v.toLong) }
    }.toSet
    assert(sums == refSums, s"kernel-only ${(sums -- refSums).take(5)}; reference-only ${(refSums -- sums).take(5)}")
    assert(keys.exists(_._2 == 31L) && !keys.exists(_._2 == 32L), "the maxTokens cap is not exercised")
    assert(Dedup.chunkSums(Seq((1L, null: String)).toDF("doc_id", "text")).count() == 0, "a null text made chunks")
  }

  test("winnowFps kernel equals the shingle-window min form") {
    import graft.llm.TextStats
    val w = TextStats.winnowW
    val win = org.apache.spark.sql.expressions.Window.partitionBy(col("doc_id")).orderBy(col("i")).rowsBetween(0, w - 1)
    val docs = textDocs.unionByName(Seq((900L, null: String)).toDF("doc_id", "text"))
    val ref = TextStats
      .shingles(docs)
      .select(col("doc_id"), col("i"), md5(col("sh")).as("h"))
      .select(col("doc_id"), min(col("h")).over(win).as("fp"), count(lit(1)).over(win).as("cnt"))
      .filter(col("cnt") === w)
      .select(col("doc_id"), col("fp"))
      .distinct()
      .collect()
      .map(r => (r.getLong(0), r.getString(1)))
      .toSet
    val rows = TextStats.winnowFps(docs).collect().map(r => r.getLong(0) -> r.getSeq[String](1))
    rows.foreach { case (d, fps) => assert(fps.nonEmpty && fps == fps.sorted.distinct, s"doc $d: $fps") }
    val got = rows.flatMap { case (d, fps) => fps.map(d -> _) }.toSet
    assert(got == ref, s"kernel-only ${(got -- ref).take(5)}; reference-only ${(ref -- got).take(5)}")
    // no full window below w + 2 tokens; exactly one at w + 2
    val byDoc = rows.toMap
    edgeTexts.zipWithIndex.foreach { case (t, i) =>
      val n = t.split(" ", -1).length
      if (n < w + 2) assert(!byDoc.contains(i.toLong), s"'$t' has no full window")
    }
    assert(byDoc(edgeTexts.indexOf("a b c d e f").toLong).length == 1)
    assert(TextStats.winnow(docs).collect().map(r => (r.getLong(0), r.getString(1))).toSet == ref)
  }

  test("a null-text doc leaves retrieveChunks output unchanged") {
    import graft.llm.Dedup
    // every doc repeats one token, so its bucket's mean is far from 0 and
    // 32 phantom all-zero chunks would move the centering
    def doc(pfx: String): String = (1 to 40).map(i => if (i % 5 == 0) "common" else s"$pfx$i").mkString(" ")
    val base = ((0 to 3) ++ (5 to 12)).map(d => (d.toLong, doc(s"d${d % 6}w"))).toDF("doc_id", "text")
    val withNull = base.unionByName(Seq((99L, null: String)).toDF("doc_id", "text"))
    def out(d: org.apache.spark.sql.DataFrame) =
      Dedup.retrieveChunks(d).collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getInt(4))).toSet
    val want = out(base)
    assert(want.nonEmpty)
    assert(out(withNull) == want)
  }

  // ---- corpus_curation kernels: one evaluation per document (curate's
  // quality counts, gopher's counts, the MinHash and SimHash signatures
  // under bandPairs) vs the Column forms they replaced, kept here only as
  // references ----

  private lazy val curationDocs = {
    val base = "the quick brown fox jumps over the lazy dog and runs far away from the old barn"
    val texts: Seq[String] =
      edgeTexts ++ Seq(
        null,
        "a   b    c     d", // runs of spaces: empty tokens
        "• bullet 😀 line…\n- dash line...\n* star\n#tag … 𝔘𝔫𝔦 😀😀 x", // surrogate pairs, … and •
        "Line one...\n\n•\n…\nDigits 123 and 4567 #### MIXED Case",
        base, // with its exact copy below: shares every band and chunk
        base,
        base.replace("barn", "farm"), // near-dup: shares some bands, not all
        base.replace("quick", "slow").replace("barn", "farm")
      ) ++ Seq.fill(55)("one two three four five six seven eight nine ten") ++ // one bucket of 55 docs
        Seq.fill(80)(randText(3 + textRnd.nextInt(60)))
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
  }

  private def rowSet(df: org.apache.spark.sql.DataFrame): (Seq[Seq[Any]], Set[Seq[Any]]) = {
    val rows = df.collect().map(_.toSeq).toSeq
    (rows, rows.toSet)
  }

  private def sameRows(got: org.apache.spark.sql.DataFrame, ref: org.apache.spark.sql.DataFrame, what: String): Unit = {
    val (g, gs) = rowSet(got)
    val (_, rs) = rowSet(ref)
    assert(g.length == gs.size, s"$what: ${g.length - gs.size} rows emitted more than once")
    assert(gs == rs, s"$what: kernel-only ${(gs -- rs).take(5)}; reference-only ${(rs -- gs).take(5)}")
  }

  test("minhashCandidates (bandPairs) equals the banded self-join form") {
    import graft.llm.{Dedup, TextStats}
    val sigs = curationDocs
      .select(
        col("doc_id"),
        graft.functions.exprs.minhash_sig(split(col("text"), " "), 3, TextStats.maxTokens, Dedup.permA, Dedup.permB).as("ms")
      )
      .filter(size(col("ms")) === Dedup.numHashes)
      .select(
        col("doc_id"),
        posexplode(array((0 until Dedup.numBands).map { b =>
          xxhash64((lit(b) +: (0 until Dedup.bandRows).map(r => element_at(col("ms"), b * Dedup.bandRows + r + 1))): _*)
        }: _*)).as(Seq("band", "bh"))
      )
    val a = sigs.select(col("doc_id").as("doc_a"), col("band"), col("bh"))
    val b = sigs.select(col("doc_id").as("doc_b"), col("band"), col("bh"))
    val ref = a.join(b, Seq("band", "bh")).filter(col("doc_a") < col("doc_b")).select(col("doc_a"), col("doc_b")).distinct()
    // the reference's per-band hits: the exact copy shares all 3 bands,
    // the near-dup fewer, and the 55-doc bucket makes 55·54/2 pairs
    val bands = a.join(b, Seq("band", "bh")).filter(col("doc_a") < col("doc_b")).groupBy("doc_a", "doc_b").count()
    assert(bands.filter(col("count") === Dedup.numBands).count() > 1000, "no pair shares every band")
    assert(bands.filter(col("count") < Dedup.numBands).count() > 0, "no pair shares only some bands")
    sameRows(Dedup.minhashCandidates(curationDocs), ref, "minhashCandidates")
  }

  test("simhashPairs (bandPairs) equals the chunk self-join form") {
    import graft.llm.{Dedup, TextStats}
    val chunks = curationDocs
      .select(col("doc_id"), graft.functions.exprs.simhash64(split(col("text"), " "), TextStats.maxTokens).as("s2"))
      .select(col("doc_id"), element_at(col("s2"), 1).as("sim_hi"), element_at(col("s2"), 2).as("sim_lo"))
      .select(
        col("doc_id"), col("sim_hi"), col("sim_lo"),
        posexplode(array(
          shiftright(col("sim_hi"), 16), col("sim_hi").bitwiseAND(lit(65535L)),
          shiftright(col("sim_lo"), 16), col("sim_lo").bitwiseAND(lit(65535L))
        )).as(Seq("ci", "chunk"))
      )
    def ref(maxHamming: Int) = {
      val a = chunks.select(col("doc_id").as("doc_a"), col("sim_hi").as("hi_a"), col("sim_lo").as("lo_a"), col("ci"), col("chunk"))
      val b = chunks.select(col("doc_id").as("doc_b"), col("sim_hi").as("hi_b"), col("sim_lo").as("lo_b"), col("ci"), col("chunk"))
      a.join(b, Seq("ci", "chunk"))
        .filter(col("doc_a") < col("doc_b"))
        .select(
          col("doc_a"), col("doc_b"),
          (bit_count(col("hi_a").bitwiseXOR(col("hi_b"))) + bit_count(col("lo_a").bitwiseXOR(col("lo_b")))).cast("long").as("hamming")
        )
        .filter(col("hamming") <= maxHamming)
        .distinct()
    }
    for (h <- Seq(3, 12)) {
      val r = ref(h)
      assert(r.filter(col("hamming") > 0).count() > 0, s"maxHamming $h: no inexact pair")
      sameRows(Dedup.simhashPairs(curationDocs, h), r, s"simhashPairs(maxHamming = $h)")
    }
  }

  // ---- the near-duplicate candidate layer: every banded screen under
  // bandPairs and every cell assignment under nearestCells, each against
  // the self-join or rank-window form it replaced ----

  /** The banded self-join every screen used to hand-roll: (id, bi, bv)
    * rows joined on (bi, bv), each pair a < b once after a distinct.
    */
  private def bandSelfJoin(bands: org.apache.spark.sql.DataFrame, a: String, b: String) =
    bands
      .select(col("id").as(a), col("bi"), col("bv"))
      .join(bands.select(col("id").as(b), col("bi"), col("bv")), Seq("bi", "bv"))
      .filter(col(a) < col(b))
      .select(col(a), col(b))

  /** Pairs sharing exactly one band and pairs sharing several: the
    * lowest-shared-band rule is exercised only when both occur.
    */
  private def assertBandOverlap(bands: org.apache.spark.sql.DataFrame, what: String): Unit = {
    val shared = bandSelfJoin(bands, "a", "b").groupBy("a", "b").count()
    assert(shared.filter(col("count") === 1).count() > 0, s"$what: no pair shares exactly one band")
    assert(shared.filter(col("count") > 1).count() > 0, s"$what: no pair shares several bands")
  }

  /** The gate embeddings plus near-copies of the first 40 vectors, each
    * nudged in a few coordinates: near-copies share some hyperplane bands,
    * not all.
    */
  private lazy val dupeEmbeddings = {
    val emb = core.Tables.embeddings(spark, sf)
    val rnd = new scala.util.Random(5)
    val copies = emb.filter(col("vec_id") < 40).collect().toSeq.map { r =>
      val v = r.getSeq[Float](1).toArray
      (0 until 1 + r.getLong(0).toInt % 4).foreach(_ => v(rnd.nextInt(v.length)) += 0.05f * rnd.nextGaussian().toFloat)
      (r.getLong(0) + 100000L, v.toSeq, r.getInt(2))
    }
    emb.unionByName(copies.toDF("vec_id", "embedding", "label"))
  }

  test("embedDupeCandidates (bandPairs) equals the banded self-join form") {
    import graft.llm.Similarity
    for ((ps, nBands) <- Seq((Similarity.planes, 2), (Similarity.planes64, 4))) {
      val width = ps.length / nBands
      val bands = Similarity
        .lshBuckets(dupeEmbeddings, ps)
        .select(
          col("vec_id").as("id"),
          posexplode(array((0 until nBands).map(b => shiftright(col("bucket"), width * b).bitwiseAND(lit((1L << width) - 1))): _*))
            .as(Seq("bi", "bv"))
        )
      assertBandOverlap(bands, s"${ps.length} planes")
      sameRows(
        Similarity.embedDupeCandidates(dupeEmbeddings, ps, nBands),
        bandSelfJoin(bands, "vid_a", "vid_b").distinct(),
        s"embedDupeCandidates(${ps.length} planes, $nBands bands)"
      )
    }
  }

  test("hashEmbedDupes candidates (bandPairs) equal the banded self-join form") {
    import graft.llm.{Dedup, TextStats}
    val docs = core.Tables.documents(spark, sf).select("doc_id", "text")
    val wi = TextStats
      .hashEmbed(docs, 64)
      .select(col("doc_id"), col("bucket"), expr("CAST(floor(weight * 1.0e6 + 0.5e0) AS BIGINT)").as("s"))
    val (_, sig) =
      Dedup.gridBandSignatures(docs.select(col("doc_id")).distinct(), wi, Seq("doc_id"), 64, Dedup.hePlanes, Dedup.heBands)
    val bands = sig.select(
      col("doc_id").as("id"),
      posexplode(array((0 until Dedup.heBands).map(j => col(s"bv$j")): _*)).as(Seq("bi", "bv"))
    )
    assertBandOverlap(bands, "hashEmbedDupes")
    // every candidate scores a cosine ≥ −1, so at tau = −2 the output is
    // the whole candidate set
    sameRows(
      Dedup.hashEmbedDupes(docs, tau = -2.0).select(col("doc_a"), col("doc_b")),
      bandSelfJoin(bands, "doc_a", "doc_b").distinct(),
      "hashEmbedDupes candidates"
    )
  }

  test("phashPairs and wavFpPairs (bandPairs) equal the first-matching-chunk join form") {
    import graft.llm.Multimodal
    // the distinct-signature join sigPairs64 ran before bandPairs: each
    // signature pair once, in the first chunk the two share
    def ref(sig: org.apache.spark.sql.DataFrame, maxHamming: Int) = {
      val s = sig.toDF("media_id", "hi", "lo")
      val sigs = s.groupBy(col("hi"), col("lo")).agg(min(col("media_id")).as("rep"))
      val mem = s.join(sigs, Seq("hi", "lo")).select(col("rep"), col("media_id"))
      val chunked = sigs.select(
        col("rep"), col("hi"), col("lo"),
        posexplode(array(
          shiftright(col("hi"), 16), col("hi").bitwiseAND(lit(65535L)),
          shiftright(col("lo"), 16), col("lo").bitwiseAND(lit(65535L))
        )).as(Seq("ci", "chunk"))
      )
      val xh = col("hi_a").bitwiseXOR(col("hi_b"))
      val xl = col("lo_a").bitwiseXOR(col("lo_b"))
      val eq0 = shiftright(xh, 16) === 0L
      val eq1 = xh.bitwiseAND(lit(65535L)) === 0L
      val eq2 = shiftright(xl, 16) === 0L
      val firstMatch = (col("ci") === 0) or (col("ci") === 1 && !eq0) or
        (col("ci") === 2 && !eq0 && !eq1) or (col("ci") === 3 && !eq0 && !eq1 && !eq2)
      val sigPairs = chunked
        .select(col("rep").as("rep_a"), col("hi").as("hi_a"), col("lo").as("lo_a"), col("ci"), col("chunk"))
        .join(chunked.select(col("rep").as("rep_b"), col("hi").as("hi_b"), col("lo").as("lo_b"), col("ci"), col("chunk")), Seq("ci", "chunk"))
        .filter(col("rep_a") < col("rep_b") && firstMatch)
        .select(
          col("rep_a"), col("rep_b"), (bit_count(xh) + bit_count(xl)).cast("long").as("hamming"),
          Seq(eq0, eq1, eq2, xl.bitwiseAND(lit(65535L)) === 0L).map(e => when(e, 1).otherwise(0)).reduce(_ + _).as("shared")
        )
        .filter(col("hamming") <= maxHamming)
      val intra = mem.as("x").join(mem.as("y"), col("x.rep") === col("y.rep") && col("x.media_id") < col("y.media_id"))
        .select(col("x.media_id").as("media_a"), col("y.media_id").as("media_b"), lit(0L).as("hamming"))
      val inter = sigPairs
        .join(mem.select(col("rep").as("rep_a"), col("media_id").as("id_a")), Seq("rep_a"))
        .join(mem.select(col("rep").as("rep_b"), col("media_id").as("id_b")), Seq("rep_b"))
        .select(least(col("id_a"), col("id_b")).as("media_a"), greatest(col("id_a"), col("id_b")).as("media_b"), col("hamming"))
      (intra.unionByName(inter), sigPairs.filter(col("hamming") > 0 && col("shared") > 1))
    }
    val cases = Seq(
      ("phashPairs", Multimodal.phash(Multimodal.pngMedia(spark, sf)), Multimodal.phashPairs _, Multimodal.pngMedia(spark, sf)),
      ("wavFpPairs", Multimodal.wavFingerprint(Multimodal.wavMediaText(spark, sf)), Multimodal.wavFpPairs _, Multimodal.wavMediaText(spark, sf))
    )
    for ((what, sig, pairs, media) <- cases; h <- Seq(3, 12)) {
      val (r, several) = ref(sig, h)
      // distinct signatures sharing several chunks exercise the lowest-
      // shared-band rule
      if (h == 12) assert(several.count() > 0, s"$what: no inexact signature pair shares several chunks")
      sameRows(pairs(media, h), r, s"$what(maxHamming = $h)")
    }
  }

  test("semanticDupes (nearestCells) equals the row_number assignment form") {
    import graft.llm.Similarity
    val emb = dupeEmbeddings
    // the rank-window assignment and pair step semanticDupes ran before
    // nearestCells, against centroid frame `cents` (cid, cv)
    def ref(cents: org.apache.spark.sql.DataFrame, tau: Double) = {
      val vs = emb.select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("v"))
        .withColumn("nrm", sqrt(graft.functions.exprs.dot_d(col("v"), col("v"))))
      val w = org.apache.spark.sql.expressions.Window.partitionBy(col("vec_id")).orderBy(col("d2").asc, col("cid").asc)
      val assign = vs.join(broadcast(cents))
        .select(col("vec_id"), col("cid"), graft.functions.exprs.sq_dist(col("v"), col("cv")).as("d2"))
        .select(col("vec_id"), col("cid"), row_number().over(w).as("cr"))
        .filter(col("cr") === 1)
        .select(col("vec_id"), col("cid"))
      val sides = assign.join(vs, Seq("vec_id"))
      sides.select(col("cid"), col("vec_id").as("dup_of"), col("v").as("va"), col("nrm").as("na"))
        .join(sides.select(col("cid"), col("vec_id"), col("v").as("vb"), col("nrm").as("nb")), Seq("cid"))
        .filter(col("dup_of") < col("vec_id"))
        .filter(round(graft.functions.exprs.dot_d(col("va"), col("vb")) / (col("na") * col("nb")), 6) >= tau)
        .groupBy(col("vec_id"))
        .agg(min(col("dup_of")).as("dup_of"), count(lit(1)).as("n_near"))
    }
    val first = emb.filter(col("vec_id") < 16)
      .select(col("vec_id").as("cid"), transform(col("embedding"), x => x.cast("double")).as("cv"))
    val trained = Similarity.kmeansParallel(emb, 8)
    // a repeated centroid ties every d2 to it: the cid tie-break decides
    val tied = trained :+ trained(0)
    val tiedDf = tied.zipWithIndex.map { case (c, i) => (i.toLong, c.toSeq) }.toSeq.toDF("cid", "cv")
    for ((what, got, r) <- Seq(
        ("first 16 cells", Similarity.semanticDupes(emb), ref(first, 0.4)),
        ("trained cells", Similarity.semanticDupes(emb, centroids = Some(tied)), ref(tiedDf, 0.4))
      )) {
      assert(r.filter(col("n_near") > 1).count() > 0, s"$what: no vector with several near cell-mates")
      sameRows(got, r, s"semanticDupes($what)")
    }
  }

  test("curate's count kernel equals the regexp quality form") {
    import graft.llm.Curation
    val splitRef = {
      val h100 = conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10).cast("long") % 100
      when(h100 < 90, "train").when(h100 < 95, "val").otherwise("test")
    }
    def ref(docs: org.apache.spark.sql.DataFrame, minQuality: Double) =
      docs
        .select(col("doc_id"), col("text"), Curation.qualityScore.as("quality"))
        .filter(col("quality") >= minQuality)
        .withColumn("keep_id", min(col("doc_id")).over(org.apache.spark.sql.expressions.Window.partitionBy(md5(col("text")))))
        .filter(col("doc_id") === col("keep_id"))
        .select(col("doc_id"), splitRef.as("split"), col("quality"))
    // an empty text divides 0 by 0 chars: the score throws under ANSI in
    // both forms, so it is checked apart
    val docs = curationDocs.filter(col("text").isNull || col("text") =!= "")
    for (q <- Seq(0.0, 0.45, 0.6)) sameRows(Curation.curate(docs, q), ref(docs, q), s"curate(minQuality = $q)")
    val counts = Curation.withQualityCounts(curationDocs).filter(col("text").isNull).select("q_tok", "q_chars").head()
    assert(counts.isNullAt(0) && counts.isNullAt(1), "a null text got counts")
    val empty = Seq((1L, "")).toDF("doc_id", "text")
    val refEmpty = scala.util.Try(ref(empty, 0.0).collect().toSeq.map(_.toSeq))
    val gotEmpty = scala.util.Try(Curation.curate(empty, 0.0).collect().toSeq.map(_.toSeq))
    assert(refEmpty.isFailure == gotEmpty.isFailure && (refEmpty.isFailure || refEmpty == gotEmpty), s"$refEmpty vs $gotEmpty")
  }

  test("gopher's count kernel equals the higher-order-function form") {
    import graft.llm.TextStats
    val r6 = graft.core.Dsp.round6 _
    val toks = expr("filter(split(text, ' '), t -> t != '')")
    val nw = size(toks).cast("long")
    val sumLen = expr("aggregate(filter(split(text, ' '), t -> t != ''), CAST(0 AS BIGINT), (a, t) -> a + length(t))")
    val nAlpha = expr("size(filter(filter(split(text, ' '), t -> t != ''), t -> t rlike '[A-Za-z]'))").cast("long")
    val nl = size(expr("split(text, '\n')")).cast("long")
    val nBullet = expr("size(filter(split(text, '\n'), l -> l LIKE '-%' OR l LIKE '*%' OR l LIKE '•%'))").cast("long")
    val nEllip = expr("size(filter(split(text, '\n'), l -> l LIKE '%...' OR l LIKE '%…'))").cast("long")
    val nSym = ((length(col("text")) - length(regexp_replace(col("text"), "#", ""))) +
      (length(col("text")) - length(regexp_replace(col("text"), "…", "")))).cast("long")
    val nStop = TextStats.gopherStops.map(s => when(array_contains(toks, s), 1).otherwise(0)).reduce(_ + _).cast("long")
    val safe = (num: org.apache.spark.sql.Column, den: org.apache.spark.sql.Column) =>
      r6(when(den > 0, num.cast("double") / den.cast("double")).otherwise(lit(0.0)))
    val ref = curationDocs
      .select(
        col("doc_id"), nw.as("n_words"), safe(sumLen, nw).as("mean_word_len"), safe(nSym, nw).as("symbol_ratio"),
        safe(nAlpha, nw).as("alpha_frac"), safe(nBullet, nl).as("bullet_frac"), safe(nEllip, nl).as("ellipsis_frac"),
        nStop.as("n_stopwords")
      )
      .withColumn(
        "pass",
        col("n_words") >= 50 && col("n_words") <= 100000 && col("mean_word_len") >= 3.0 &&
          col("mean_word_len") <= 10.0 && col("symbol_ratio") <= 0.1 && col("alpha_frac") >= 0.8 &&
          col("bullet_frac") <= 0.9 && col("ellipsis_frac") <= 0.3 && col("n_stopwords") >= 2
      )
    val got = TextStats.gopher(curationDocs)
    assert(ref.filter(col("bullet_frac") > 0 && col("ellipsis_frac") > 0 && col("symbol_ratio") > 0).count() > 0,
      "no doc exercises bullets, ellipses and symbols")
    sameRows(got, ref, "gopher")
  }
}

/** Non-power-of-two nfft goes through Fft.Periodogram's tabled-DFT branch;
  * verify the full Welch pipeline against an independent naive
  * implementation at nfft=48.
  */
class OddNfftSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  test("psdWelch at nfft=48 matches a naive single-machine Welch") {
    val rnd = new scala.util.Random(31)
    val xs = Array.fill(480)(rnd.nextDouble() * 4 - 2)
    val df = xs.zipWithIndex.toSeq.map { case (v, i) => ("c", i.toLong, v) }.toDF("channel", "n", "x")
    val cfg = graft.operators.SpectraOps.WelchCfg(nfft = 48, hop = 24)
    val got = graft.operators.SpectraOps
      .psdWelch(df, cfg)
      .collect()
      .map(r => r.getInt(1).toLong -> r.getDouble(3))
      .toMap
    // naive welch: hann(periodic), constant detrend, density scaling
    val n = 48; val hop = 24
    val win = Array.tabulate(n)(p => 0.5 - 0.5 * math.cos(2.0 * math.Pi * p / n))
    val norm = 1.0 / (100.0 * win.map(w => w * w).sum)
    val nsegs = (xs.length - n) / hop + 1
    val acc = new Array[Double](n / 2 + 1)
    for (s <- 0 until nsegs) {
      val seg = xs.slice(s * hop, s * hop + n)
      val m = seg.sum / n
      val xw = seg.zip(win).map { case (v, w) => (v - m) * w }
      for (f <- 0 to n / 2) {
        var re = 0.0; var im = 0.0
        for (p <- 0 until n) {
          re += xw(p) * math.cos(2.0 * math.Pi * f * p / n)
          im -= xw(p) * math.sin(2.0 * math.Pi * f * p / n)
        }
        val one = (re * re + im * im) * norm
        acc(f) += (if (f == 0 || f == n / 2) one else one * 2.0)
      }
    }
    for (f <- 0 to n / 2) {
      val want = acc(f) / nsegs
      assert(math.abs(got(f.toLong) - want) < 1e-5, s"f=$f: ${got(f.toLong)} vs $want")
    }
  }

  test("audioVad kernel ≡ declarative frame/segment aggregation (r17 fusion)") {
    // clip shapes straddle the frame boundary cases: exact multiples of
    // 32, a ragged tail frame, all-silent, all-active, single sample,
    // and alternating silence runs (segment counting)
    val clips: Seq[(Long, Array[Short])] = Seq(
      1L -> Array.tabulate(128)(t => if ((t / 32) % 3 == 0) 0 else ((t * 37) % 2003 - 1001).toShort),
      2L -> Array.tabulate(100)(t => if ((t / 32) % 2 == 0) 0 else ((t * 11) % 997 - 498).toShort), // ragged tail
      3L -> Array.fill[Short](96)(0), // all silent
      4L -> Array.tabulate(64)(t => (t + 1).toShort), // all active
      5L -> Array[Short](7), // single sample, single frame
      6L -> Array.tabulate(193)(t => if ((t / 32) % 3 == 2) ((t * 5) % 101 + 1).toShort else 0)
    )
    val media = clips
      .map { case (id, s) => (id, llm.Multimodal.encodeWav(s)) }
      .toDF("media_id", "payload")
    val got = llm.Multimodal
      .audioVad(media)
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toMap
    assert(got.keySet == clips.map(_._1).toSet)
    for ((id, s) <- clips) {
      // declarative reference: exactly the pre-r17 frame aggregation +
      // lag-window run counting, computed naively
      val frames = s.grouped(32).toArray
      val energies = frames.map(_.map(v => v.toLong * v.toLong).sum)
      val acts = energies.map(_ > 0L)
      val nSeg = acts.zip(false +: acts.dropRight(1).toSeq).count { case (a, p) => a && !p }
      val want = (frames.length.toLong, acts.count(identity).toLong, nSeg.toLong, energies.sum)
      assert(got(id) == want, s"media $id: ${got(id)} vs $want")
    }
  }
}
