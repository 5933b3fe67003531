package graft

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.llm.{Dedup, Similarity}

class LlmSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private lazy val docs = Seq(
    (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
    (2L, "alpha beta gamma delta epsilon zeta eta theta iota lambda"), // near-dup of 1
    (3L, "one two three four five six seven eight nine ten"),
    (4L, "alpha beta gamma delta epsilon zeta eta theta iota kappa") // exact dup of 1
  ).toDF("doc_id", "text")

  test("minhash LSH surfaces near-duplicate and exact-duplicate pairs") {
    val pairs = Dedup
      .minhashCandidates(docs)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    assert(pairs.contains((1L, 4L)), "exact dup pair missed")
    assert(pairs.contains((1L, 2L)), "near dup pair missed")
    assert(!pairs.exists { case (a, b) => a == 3L || b == 3L }, "unrelated doc bucketed")
  }

  test("jaccard: exact dup = 1, near dup high, ordering sane") {
    val j = Dedup
      .jaccard(docs)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
      .toMap
    assert(j((1L, 4L)) == 1.0)
    assert(j((1L, 2L)) > 0.7 && j((1L, 2L)) < 1.0)
  }

  test("incrementalDedup: planted batch near-dup flagged, clean batch doc passes") {
    // doc_ids 4 and 5 md5-hash into the batch bucket (%10 == 7); 1, 2, 3
    // land in the index slices. Doc 4 is a planted near-dup of index doc
    // 1 (jaccard 7/9 ≥ tau 0.7); doc 5 shares nothing.
    val d = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "one two three four five six seven eight nine ten"),
      (3L, "red orange yellow green blue indigo violet umber ochre teal"),
      (4L, "alpha beta gamma delta epsilon zeta eta theta iota lambda"),
      (5L, "quick brown fox jumps over lazy dog near river bank")
    ).toDF("doc_id", "text")
    val out = Dedup
      .incrementalDedup(d)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2), r.getBoolean(3))))
      .toMap
    assert(out.keySet == Set(4L, 5L), "output must be exactly the batch slice")
    val (n4, dup4, is4) = out(4L)
    assert(is4 && dup4 == "1" && n4 >= 1L, s"planted near-dup missed: ${out(4L)}")
    assert(out(5L) == ((0L, "", false)), s"clean doc misflagged: ${out(5L)}")
  }

  test("simhash: identical docs get identical hashes") {
    val h = Dedup
      .simhash(docs)
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    assert(h(1L) == h(4L))
    assert(h(1L) != h(3L))
  }

  test("components: clusters collapse to min doc_id, singletons stand alone") {
    val nodes = (1L to 8L).toDF("doc_id")
    // two clusters {1,2,3} (via 1-2, 2-3) and {5,6}; 4,7,8 singletons
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("doc_a", "doc_b")
    val comp = Dedup
      .components(nodes, pairs)
      .collect()
      .map(r => r.getLong(0) -> r.getLong(1))
      .toMap
    assert(comp == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 5L, 6L -> 5L, 7L -> 7L, 8L -> 8L))
  }

  test("components: no pairs at all leaves every node a singleton") {
    val nodes = (1L to 4L).toDF("doc_id")
    val pairs = Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")
    val comp = Dedup.components(nodes, pairs).collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(comp.toSet == (1L to 4L).map(i => (i, i)).toSet)
  }

  test("components: a 64-node chain converges well inside the round cap") {
    // worst case for plain min-propagation (diameter 63); pointer
    // jumping must close it in O(log n) rounds
    val nodes = (0L until 64L).toDF("doc_id")
    val pairs = (0L until 63L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val comp = Dedup.components(nodes, pairs, maxIters = 10).collect()
    assert(comp.length == 64 && comp.forall(_.getLong(1) == 0L))
  }

  test("components over simhash pairs stays within a fixed Spark job budget") {
    // pairs, edge store, seed and the collect: 8 jobs. The per-round
    // label loop this guards against ran 27 here
    val (comp, jobs) = SparkProbe.jobs(
      Dedup.components(docs.select(col("doc_id")), Dedup.simhashPairs(docs)).collect()
    )
    assert(comp.map(r => r.getLong(0) -> r.getLong(1)).toMap == Map(1L -> 1L, 2L -> 2L, 3L -> 3L, 4L -> 1L))
    assert(jobs > 0 && jobs <= 12, s"components ran $jobs Spark jobs")
  }

  test("retrieve_chunks stays within a fixed Spark job budget") {
    // kernel checkpoint, query broadcast, rank exchange and the collect:
    // 4 jobs. The keyed (chunk, bucket) form this guards against ran 23
    val (rows, jobs) = SparkProbe.jobs(Dedup.retrieveChunks(docs).collect())
    assert(rows.exists(r => r.getAs[Long]("qdoc") == 1L && r.getAs[Long]("doc_b") == 4L), rows.mkString(", "))
    assert(jobs > 0 && jobs <= 8, s"retrieveChunks ran $jobs Spark jobs")
  }

  test("winnow_topk stays within a fixed Spark job budget") {
    // class checkpoint, df-capped pair count and the report: 9 jobs. The
    // per-doc window, capped checkpoint and cfps join form ran 15
    val run = (1 to 16).map(i => s"common$i").mkString(" ")
    val d = Seq((1L, s"aa bb $run cc"), (2L, s"xx $run yy zz"), (3L, s"$run ww"), (4L, "p1 p2 p3 p4 p5 p6 p7"))
      .toDF("doc_id", "text")
    val (rows, jobs) = SparkProbe.jobs(graft.llm.TextStats.winnowTopk(d).collect())
    assert(rows.nonEmpty)
    assert(jobs > 0 && jobs <= 12, s"winnowTopk ran $jobs Spark jobs")
  }

  test("sim_communities stays within a fixed Spark job budget") {
    // k-NN edge build, edge store, labels, then one checkpoint per round
    // until the labels stop changing: 42 jobs here. The sorted store with
    // separate node and label checkpoints and five fixed rounds ran 51
    val emb = graft.core.Tables.embeddings(spark, sf)
    val (rows, jobs) = SparkProbe.jobs(Similarity.lpCommunities(emb).collect())
    assert(rows.nonEmpty)
    assert(jobs > 0 && jobs <= 42, s"lpCommunities ran $jobs Spark jobs")
  }

  test("sim_graph_serve stays within a fixed Spark job budget") {
    // edge build, walk store, seeds, two checkpoints per round and the
    // exact re-rank: 37 jobs here; 41 before the walk's checkpoint
    // estimates were re-based on observed rows
    val emb = graft.core.Tables.embeddings(spark, sf)
    val (rows, jobs) = SparkProbe.jobs(Similarity.graphServe(emb).collect())
    assert(rows.nonEmpty)
    assert(jobs > 0 && jobs <= 37, s"graphServe ran $jobs Spark jobs")
  }

  test("sim_graph_hier_sq8 stays within a fixed Spark job budget") {
    // the hierarchy build, the SQ8 codes, the walk and the exact
    // re-rank: 55 jobs here; 59 before the walk's checkpoint estimates
    // were re-based on observed rows
    val emb = graft.core.Tables.embeddings(spark, sf)
    val (rows, jobs) = SparkProbe.jobs(Similarity.graphServeHierSq8(emb).collect())
    assert(rows.nonEmpty)
    assert(jobs > 0 && jobs <= 55, s"graphServeHierSq8 ran $jobs Spark jobs")
  }

  test("decontam counts shared shingles, clean docs emit no row") {
    val train = Seq(
      (1L, "secret bench phrase here plus extra words padding out"), // shares shingles
      (2L, "completely different content with no overlap at all")
    ).toDF("doc_id", "text")
    val bench = Seq((100L, "the secret bench phrase here appears verbatim")).toDF("doc_id", "text")
    val c = graft.llm.Curation
      .decontamCounts(train, bench)
      .collect()
      .map(r => r.getLong(0) -> r.getLong(1))
      .toMap
    // "secret bench phrase", "bench phrase here" are the shared 3-shingles
    assert(c == Map(1L -> 2L))
  }

  test("bm25 ranks rare-term matches above common-term matches") {
    val corpus = Seq(
      (1L, "dup dup alpha beta"), // rare term, twice
      (2L, "spark spark spark alpha beta"), // common term only
      (3L, "alpha beta gamma"), // no query terms → no row
      (4L, "spark alpha beta"),
      (5L, "spark alpha beta"),
      (6L, "spark alpha beta"),
      (7L, "alpha dup beta") // rare term once
    ).toDF("doc_id", "text")
    val r = graft.llm.TextStats
      .bm25(corpus, terms = Seq("spark", "dup"), topK = 10)
      .collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    assert(!r.exists(_._1 == 3L), "doc without query terms must not score")
    val byId = r.toMap
    // df(dup)=2 of 7 vs df(spark)=4 of 7 → dup matches outrank spark-only
    assert(byId(1L) > byId(2L) && byId(7L) > byId(2L))
    assert(r.sortBy(-_._2).head._1 == 1L, "two rare-term hits should rank first")
  }

  private def clusteredVecs(n: Int, nClusters: Int, noise: Double): Seq[(Long, Array[Float], Int)] = {
    val rnd = new scala.util.Random(7)
    val centers = Array.fill(nClusters, 64)(rnd.nextGaussian())
    (0 until n).map { i =>
      val c = i % nClusters
      (i.toLong, centers(c).map(x => (x + noise * rnd.nextGaussian()).toFloat), c)
    }
  }

  test("pq: codebook-member vectors reconstruct exactly") {
    // vectors 16..19 duplicate vectors 0..3, so their nearest centroid
    // in every subspace is an exact match and vq == v bit-for-bit
    val base = clusteredVecs(16, 16, 0.0)
    val vecs = (base ++ base.take(4).map { case (id, v, c) => (id + 16, v, c) })
      .toDF("vec_id", "embedding", "label")
    val cb = Similarity.pqCodebooks(vecs)
    val recon = Similarity
      .pqReconstruct(vecs.select(col("vec_id"), col("embedding"), col("label")), cb)
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1))
      .toMap
    val orig = base.take(4).map { case (id, v, _) => id -> v.map(_.toDouble).toSeq }.toMap
    for (id <- 0L until 4L) assert(recon(id + 16) == orig(id), s"vec ${id + 16} not exact")
  }

  test("pq: trained codebooks cut quantization error vs the untrained gate codebooks") {
    val vecs = clusteredVecs(200, 10, 0.3).toDF("vec_id", "embedding", "label")
    def mse(cb: Array[Array[Array[Double]]]): Double = {
      val vd = vecs.select(
        col("vec_id"),
        org.apache.spark.sql.functions.transform(col("embedding"), x => x.cast("double")).as("v")
      )
      Similarity
        .pqReconstruct(vecs, cb)
        .join(vd, Seq("vec_id"))
        .select(graft.functions.exprs.sq_dist(col("v"), col("vq")).as("e"))
        .agg(org.apache.spark.sql.functions.avg(col("e")))
        .head()
        .getDouble(0)
    }
    val untrained = mse(Similarity.pqCodebooks(vecs))
    val trained = mse(Similarity.pqTrain(vecs, iters = 3))
    assert(trained < untrained * 0.8, s"trained $trained vs untrained $untrained")
  }

  test("pq top-k retrieves the right cluster; fine ranking stays sane") {
    val all = clusteredVecs(200, 10, 0.3)
    val vecs = all.toDF("vec_id", "embedding", "label")
    val cb = Similarity.pqTrain(vecs, iters = 3)
    val pq = Similarity
      .pqTopk(vecs, Some(cb))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .groupMap(_._1)(_._2)
    val cluster = all.map { case (id, _, c) => id -> c }.toMap
    // PQ's contract is coarse retrieval: every hit must come from the
    // query's own cluster (reconstructions collapse cluster members
    // together, so exact within-cluster rank order is NOT promised)
    val precision = (0L until 10L)
      .map(q => pq(q).count(v => cluster(v) == cluster(q)) / 5.0)
      .sum / 10.0
    assert(precision >= 0.95, s"same-cluster precision@5 $precision")
    // and the fine ranking still overlaps exact search far above chance
    // (chance ≈ 5/199 per slot)
    val exact = all.filter(_._1 < 10).map { case (qid, qv, _) =>
      qid -> all
        .filter(_._1 != qid)
        .map { case (vid, vv, _) =>
          (vid, qv.zip(vv).map { case (a, b) => (a - b).toDouble * (a - b) }.sum)
        }
        .sortBy { case (vid, d) => (d, vid) }
        .take(5)
        .map(_._1)
        .toSet
    }.toMap
    val recall = (0L until 10L).map(q => pq(q).count(exact(q)) / 5.0).sum / 10.0
    assert(recall >= 0.4, s"recall@5 vs exact $recall")
  }

  test("ivf+pq top-k retrieves the query's cluster through the residual codes") {
    val all = clusteredVecs(200, 10, 0.3)
    val vecs = all.toDF("vec_id", "embedding", "label")
    val r = Similarity
      .ivfPqTopk(vecs)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .groupMap(_._1)(_._2)
    val cluster = all.map { case (id, _, c) => id -> c }.toMap
    val precision = (0L until 10L)
      .map(q => r(q).count(v => cluster(v) == cluster(q)) / 5.0)
      .sum / 10.0
    assert(precision >= 0.95, s"same-cluster precision@5 $precision")
  }

  test("chunking: window boundaries and tail sizes are exact") {
    val doc = Seq((1L, (1 to 70).map(i => s"w$i").mkString(" "))).toDF("doc_id", "text")
    val c = graft.llm.TextStats
      .chunks(doc, winTok = 32)
      .collect()
      .map(r => (r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    assert(c.toSeq == Seq((0L, 32L), (1L, 32L), (2L, 6L)))
  }

  test("chunking/packing edge cases: empty text and over-capacity docs") {
    val docs = Seq(
      (0L, ""), // split('') = [''] → one 1-token chunk
      (8L, (1 to 300).map(i => s"x$i").mkString(" ")) // 300 > cap 256
    ).toDF("doc_id", "text")
    val c = graft.llm.TextStats
      .chunks(docs, winTok = 32)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(c.count(_._1 == 0L) == 1 && c.find(_._1 == 0L).get._3 == 1L)
    assert(c.count(_._1 == 8L) == 10) // ceil(300/32)
    val p = graft.llm.TextStats
      .pack(docs)
      .collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3), r.getLong(4)))
      .sortBy(_._1)
    // same salt stream (both ≡ 0 mod 8): doc 0 (1 token) starts bin 0
    // offset 0; doc 8 (300 tokens) starts bin 0 offset 1 and SPANS into
    // bin 1 — concat-and-chunk places it by its start
    assert(p.toSeq == Seq((0L, 1L, 0L, 0L), (8L, 300L, 0L, 1L)))
  }

  test("repetition and shingles survive tiny docs (no descending-sequence crash)") {
    val docs = Seq((1L, ""), (2L, "one"), (3L, "one two"), (4L, "a b c d")).toDF("doc_id", "text")
    val rep = graft.llm.TextStats.repetition(docs).collect().map(r => r.getLong(0)).toSet
    assert(rep == Set(3L, 4L), "docs with < 2 tokens must emit nothing, not crash")
    val sh = graft.llm.TextStats.shingles(docs).collect().map(r => r.getLong(0)).toSet
    assert(sh == Set(4L), "docs with < 3 tokens must emit no 3-shingles")
  }

  test("minhash banding survives short docs (empty signature, no ANSI crash)") {
    val mixed = Seq(
      (1L, ""),
      (2L, "one"),
      (3L, "one two"),
      (4L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (5L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (6L, "x"),
      (7L, "y")
    ).toDF("doc_id", "text")
    val pairs = Dedup
      .minhashCandidates(mixed)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    assert(pairs == Set((4L, 5L)), s"short docs must neither crash nor co-bucket: $pairs")
    assert(Dedup.jaccard(mixed).count() == 1)
  }

  test("langid ngram: holdout accuracy >= 0.95 on planted languages") {
    import graft.llm.TextStats
    // three synthetic languages with distinct (overlapping) character
    // inventories — the gate corpus's lang column carries no textual
    // signal, so discriminative power is proven here (IVF precedent)
    val rnd = new scala.util.Random(17)
    val alphabets = Map(
      "aa" -> "abcdeft",
      "bb" -> "stuvwxt",
      "cc" -> "mnopqrt"
    )
    def word(alpha: String) =
      (0 until 3 + rnd.nextInt(4)).map(_ => alpha(rnd.nextInt(alpha.length))).mkString
    def doc(alpha: String) = (0 until 20).map(_ => word(alpha)).mkString(" ")
    val rows = (0 until 300).map { i =>
      val lang = Seq("aa", "bb", "cc")(i % 3)
      (i.toLong, doc(alphabets(lang)), lang)
    }
    val train = rows.filter(_._1 % 5 != 0).toDF("doc_id", "text", "lang")
    val holdout = rows.filter(_._1 % 5 == 0)
    // score the holdout against tables trained WITHOUT it; holdout rows
    // get a dummy label so no truth can leak through the score join
    val houtDf = holdout.map { case (id, t, _) => (id, t, "??") }.toDF("doc_id", "text", "lang")
    val pred = TextStats
      .langidNgram(houtDf, trainOpt = Some(train))
      .collect()
      .map(r => r.getLong(0) -> r.getString(1))
      .toMap
    val truth = holdout.map { case (id, _, l) => id -> l }.toMap
    val acc = truth.count { case (id, l) => pred.get(id).contains(l) }.toDouble / truth.size
    assert(acc >= 0.95, s"holdout accuracy $acc over ${truth.size} docs")
  }

  test("hash embeddings: identical docs embed identically, vectors are unit norm") {
    import graft.llm.TextStats
    val vecs = TextStats
      .hashEmbed(docs)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .groupBy(_._1)
      .map { case (id, rows) => id -> rows.map(t => t._2 -> t._3).toMap }
    assert(vecs(1L) == vecs(4L), "identical text must embed identically")
    assert(vecs(1L) != vecs(3L), "different text should differ")
    vecs.foreach { case (id, v) =>
      val norm = v.values.map(x => x * x).sum
      assert(math.abs(norm - 1.0) < 1e-4, s"doc $id norm $norm")
    }
  }

  test("video container: header round-trips, frame sampling and motion are exact") {
    import graft.llm.Multimodal
    // doc_id 10: w = 10%8+4 = 6, h = 10%6+4 = 8, nf = 10%12+5 = 15
    val bytes = Multimodal.encodeVideo(10L)
    val (w, h, frames) = Multimodal.decodeVideo(bytes)
    assert(w == 6 && h == 8 && frames.length == 15)
    assert(frames(3)(7) == ((10 * 31 + 3 * 17 + 7 * 7) % 256))
    val media = Seq((10L, bytes)).toDF("media_id", "payload")
    val rows = Multimodal
      .videoFrames(media)
      .collect()
      .map(r => r.getLong(1) -> ((r.getDouble(2), r.getLong(3), r.getDouble(4))))
      .toMap
    assert(rows.keySet == Set(0L, 4L, 8L, 12L), "every 4th frame under nf=15")
    // hand-computed frame-0 mean: pixels (310 + 7p) % 256 over p = 0..47
    val px0 = (0 until 48).map(p => (310 + 7 * p) % 256)
    assert(rows(0L)._1 == math.floor(px0.sum.toDouble / 48 * 1e6 + 0.5) / 1e6)
    assert(rows(0L)._2 == px0.max.toLong && rows(0L)._3 == 0.0, "first sampled frame has no motion")
    // motion of frame 4 vs frame 0: |(v + 68) mod 256 - v| per pixel
    val px4 = (0 until 48).map(p => (310 + 4 * 17 + 7 * p) % 256)
    val mot = px0.zip(px4).map { case (a, b) => math.abs(b - a) }.sum.toDouble / 48
    assert(rows(4L)._3 == math.floor(mot * 1e6 + 0.5) / 1e6)
  }

  test("phash pairs: identical thumbnails pair at hamming 0, recall matches brute force") {
    import graft.llm.Multimodal
    val rnd = new scala.util.Random(7)
    val base = Array.fill(40 * 30)(rnd.nextInt(256).toByte)
    val tweak = base.clone(); tweak(5) = ((base(5) & 0xff) ^ 4).toByte // sub-pixel nudge
    val other = Array.fill(40 * 30)(rnd.nextInt(256).toByte)
    val media = Seq(
      (1L, Multimodal.encodePng(base, 40, 30)),
      (2L, Multimodal.encodePng(base, 40, 30)),
      (3L, Multimodal.encodePng(tweak, 40, 30)),
      (4L, Multimodal.encodePng(other, 40, 30))
    ).toDF("media_id", "payload")
    val sigs = Multimodal.phash(media).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(sigs(1L) == sigs(2L), "identical images must hash identically")
    val pairs = Multimodal.phashPairs(media).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(pairs((1L, 2L)) == 0L)
    // banding recall is pigeonhole-exact: every brute-force hamming<=3
    // pair must appear, nothing above 3 may
    val ids = sigs.keys.toSeq.sorted
    val brute = (for {
      a <- ids; b <- ids if a < b
      hm = java.lang.Long.bitCount(sigs(a)._1 ^ sigs(b)._1) +
        java.lang.Long.bitCount(sigs(a)._2 ^ sigs(b)._2)
      if hm <= 3
    } yield (a, b) -> hm.toLong).toMap
    assert(pairs == brute, s"banding $pairs vs brute $brute")
  }

  test("wav fingerprint pairs: identical clips at hamming 0, recall matches brute force") {
    import graft.llm.Multimodal
    // clips from short texts so every char reaches the 264-sample window
    def clip(text: String): Array[Byte] = {
      val cps = text.codePoints().toArray
      val n = cps.length % 256 + 16
      Multimodal.encodeWav(Array.tabulate(n) { t =>
        (((cps(t % cps.length).toLong * 131 + t.toLong * 17) % 2003) - 1001).toShort
      })
    }
    val base = "the quick brown fox jumps over the lazy dog"
    val media = Seq(
      (1L, clip(base)),
      (2L, clip(base)), // exact dup → identical fingerprint
      (3L, clip(base.dropRight(1) + "x")), // one-char edit → few flipped bits
      (4L, clip("completely unrelated text with different content entirely"))
    ).toDF("media_id", "payload")
    val sigs = Multimodal.wavFingerprint(media).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(sigs(1L) == sigs(2L), "identical clips must fingerprint identically")
    def hm(a: Long, b: Long) = (sigs(a), sigs(b)) match {
      case ((h1, l1), (h2, l2)) =>
        java.lang.Long.bitCount(h1 ^ h2) + java.lang.Long.bitCount(l1 ^ l2)
    }
    // a one-char edit perturbs at most a handful of frames (often zero
    // bits — sign-of-energy-delta is DESIGNED to absorb small nudges)
    assert(hm(1L, 3L) <= 8, s"edit distance ${hm(1L, 3L)}")
    assert(hm(1L, 4L) > 8, s"unrelated clips too close: ${hm(1L, 4L)}")
    val pairs = Multimodal.wavFpPairs(media).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(pairs((1L, 2L)) == 0L)
    // banding recall is pigeonhole-exact at hamming <= 3
    val ids = sigs.keys.toSeq.sorted
    val brute = (for {
      a <- ids; b <- ids if a < b
      h = hm(a, b) if h <= 3
    } yield (a, b) -> h.toLong).toMap
    assert(pairs == brute, s"banding $pairs vs brute $brute")
  }

  test("corpus diff: added/removed/changed/unchanged all classified") {
    import graft.llm.Curation
    val oldSnap = Seq((1L, "alpha"), (2L, "beta"), (3L, "gamma")).toDF("doc_id", "text")
    val newSnap = Seq((2L, "beta"), (3L, "gamma EDITED"), (4L, "delta")).toDF("doc_id", "text")
    val d = Curation.corpusDiff(oldSnap, newSnap).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(d == Map(1L -> "removed", 2L -> "unchanged", 3L -> "changed", 4L -> "added"), s"$d")
  }

  test("bpe segments: decode identity holds and piece counts match tokensBpe") {
    import graft.llm.Bpe
    val corpus = Seq(
      (1L, "the cat sat on the mat"),
      (2L, "the cat sat  on the mat"), // double space must survive round-trip
      (3L, ""),
      (4L, "the the the the cat cat cat"),
      (5L, "unrelated words entirely different")
    ).toDF("doc_id", "text")
    val seg = Bpe.segmentsBpe(corpus).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2), r.getBoolean(3)))).toMap
    assert(seg.values.forall(_._3), s"decode identity violated: $seg")
    val counts = Bpe.tokensBpe(corpus).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(seg.forall { case (id, (n, _, _)) => n == counts(id) },
      "n_pieces must equal tokensBpe n_bpe")
    // identical texts segment identically; different texts differently
    assert(seg(1L)._2 != seg(2L)._2, "spacing must reach the encoded hash")
    assert(seg(3L) == ((0L, seg(3L)._2, true)))
  }

  test("span removal excises shared 5-grams, merges overlaps, spares unique docs") {
    val corpus = Seq(
      (1L, "a b c d e f g h"),
      (2L, "z z a b c d e q q"),
      (3L, "totally different words here none shared"),
      (4L, ""),
      (5L, "a b c d e f z z z") // overlapping shared grams: [a..e] and [b..f]
    ).toDF("doc_id", "text")
    val out = Dedup
      .spanRemoval(corpus)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2))))
      .toMap
    def m(s: String) = java.security.MessageDigest
      .getInstance("MD5").digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    // doc1 shares 'a b c d e' (doc2) and 'b c d e f' (doc5): cover 1..6 → 'g h'
    assert(out(1L) == ((6L, m("g h"))), s"doc1 ${out(1L)}")
    assert(out(2L) == ((5L, m("z z q q"))))
    assert(out(3L) == ((0L, m("totally different words here none shared"))))
    assert(out(4L) == ((0L, m(""))))
    assert(out(5L) == ((6L, m("z z z"))))
  }

  test("bpe: trainer learns frequency-ordered merges, counts contract correctly") {
    import graft.llm.Bpe
    // classic Sennrich-style corpus: 'lo' then 'low' dominate
    val words = Seq(("low", 5L), ("lower", 2L), ("newest", 6L), ("widest", 3L))
    val merges = Bpe.train(words)
    assert(merges.length == Bpe.nMerges)
    val s = Bpe.sep
    // most frequent pair: e-s (newest 6 + widest 3 = 9)
    assert(merges.head == s"e${s}s", s"first merge ${merges.head.replace(s, "|")}")
    // second: es-t (9) — a merged symbol merging again = true hierarchical BPE
    assert(merges(1) == s"es${s}t", s"second merge ${merges(1).replace(s, "|")}")
    // l-o (7) beats n-e / w-e (6) next
    assert(merges(2) == s"l${s}o")
    // applying the merges through the expression: "newest newest" → 2 tokens
    // of [n,e,w,est] = wait: est forms, then n-e? count via DataFrame
    val df = Seq((1L, "newest"), (2L, "low low"), (3L, ""), (4L, "zzz qqq")).toDF("doc_id", "text")
    val out = df
      .select(
        col("doc_id"),
        graft.functions.exprs.bpe_count(
          org.apache.spark.sql.functions.split(col("text"), " "), merges).as("n"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    // newest = n|e|w|est → ne|w|est (n-e rank among merges) or stays 4: either
    // way strictly < 6 chars and >= 1
    assert(out(1L) >= 1 && out(1L) < 6, s"newest compressed to ${out(1L)}")
    assert(out(3L) == 0, "empty doc counts zero")
    assert(out(4L) == 6, "unseen-pair words stay at character count")
    // low appears in training: l-o-w → lo w or low; 2 words ≤ 2 tokens each
    assert(out(2L) <= 4 && out(2L) >= 2)
  }

  test("bpe: degenerate corpora (single chars, empty) neither crash nor merge") {
    import graft.llm.Bpe
    val merges = Bpe.train(Seq(("a", 3L), ("b", 2L)))
    assert(merges.forall(_ == Bpe.nope), "no adjacent pairs → all sentinel merges")
    assert(Bpe.train(Seq.empty).length == Bpe.nMerges)
    val docs = Seq((1L, "a b a"), (2L, "ab")).toDF("doc_id", "text")
    val out = Bpe.tokensBpe(docs).collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.forall { case (_, ws, bpe) => bpe >= ws })
  }

  test("decontam with an empty benchmark side emits nothing") {
    val train = Seq((1L, "some words here")).toDF("doc_id", "text")
    val bench = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(graft.llm.Curation.decontamCounts(train, bench).count() == 0)
  }

  test("packing: windows fill in doc order per salt, offsets wrap at capacity") {
    // one salt stream (ids all ≡ 0 mod 8): lengths 100, 100, 100 →
    // starts 0, 100, 200 → bins 0, 0, 0 at cap 256? no: starts 0,100,200
    // → bin 0 offset 0; bin 0 offset 100; bin 0 offset 200 — then a
    // fourth doc starts at 300 → bin 1 offset 44
    val docs = Seq(0L, 8L, 16L, 24L)
      .map(id => (id, (1 to 100).map(i => s"t$i").mkString(" ")))
      .toDF("doc_id", "text")
    val p = graft.llm.TextStats
      .pack(docs)
      .collect()
      .map(r => (r.getLong(0), r.getLong(3), r.getLong(4)))
      .sortBy(_._1)
    assert(p.toSeq == Seq((0L, 0L, 0L), (8L, 0L, 100L), (16L, 0L, 200L), (24L, 1L, 44L)))
  }

  test("BPE packing is gapless per salt and budgets more tokens than whitespace") {
    import graft.llm.Bpe
    val docs = graft.core.Tables.documents(spark, sf)
    val p = Bpe.packBpe(docs).localCheckpoint()
    // offsets live inside the bin
    assert(p.filter(col("bin_offset") < 0 || col("bin_offset") >= Bpe.packCap).isEmpty)
    // gapless: per salt, total packed tokens equal the last doc's start+len
    val bad = p
      .groupBy("salt")
      .agg(
        org.apache.spark.sql.functions.sum(col("n_tok")).as("total"),
        org.apache.spark.sql.functions
          .max(col("bin_id") * Bpe.packCap + col("bin_offset") + col("n_tok"))
          .as("end")
      )
      .filter(col("total") =!= col("end"))
    assert(bad.isEmpty, "packing left a gap inside a salt stream")
    // the BPE budget dominates the whitespace budget on every doc
    val ws = graft.llm.TextStats.pack(docs).select(col("doc_id"), col("n_tok").as("n_ws"))
    assert(p.join(ws, "doc_id").filter(col("n_tok") < col("n_ws")).isEmpty)
  }

  test("c4 cleaning keeps terminal-punctuation lines and flags boilerplate pages") {
    val docs = Seq(
      (1L, "this line stays here.\nno punct line\nshort.\nenable javascript now please.\nanother good line stays!"),
      (2L, "lorem ipsum dolor sit amet.\nsecond good line here.\nthird good line here.\nfourth good line here."),
      (3L, "only one good line survives here.\nbad\nbad")
    ).toDF("doc_id", "text")
    val out = graft.llm.Curation
      .c4Clean(docs)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getBoolean(4))))
      .toMap
    // doc 1: 5 lines; keeps the 2 well-formed ones ("short." has <3
    // words, the javascript line is banned); <3 kept → page dropped
    assert(out(1L) == ((5L, 2L, true)), s"doc 1: ${out(1L)}")
    // doc 2: all 4 lines keep, but lorem ipsum flags the page
    assert(out(2L) == ((4L, 4L, true)), s"doc 2: ${out(2L)}")
    // doc 3: 1 kept line of 3 → dropped for page length
    assert(out(3L) == ((3L, 1L, true)), s"doc 3: ${out(3L)}")
    // and a page that passes: three good lines, no boilerplate
    val ok = Seq((9L, "first good line is here.\nsecond good line too!\nthird good line as well?"))
      .toDF("doc_id", "text")
    val okRow = graft.llm.Curation.c4Clean(ok).collect()(0)
    assert(okRow.getLong(2) == 3L && !okRow.getBoolean(4), s"clean page flagged: $okRow")
  }

  test("gopher rules: each published screen fires on its designed offender") {
    val good = ((1 to 60).map(i => s"word$i") ++ Seq("the", "and", "of")).mkString(" ")
    val docs = Seq(
      (1L, good), // passes everything
      (2L, "the and of tiny"), // word count < 50
      (3L, good.replace(" ", " # ")), // symbol ratio > 0.1
      (4L, (1 to 60).map(_ => "zzz").mkString(" ")), // no stopwords
      (5L, ((1 to 60).map(i => s"- w$i\n").mkString + "the and of")), // bullet lines
      (6L, ((1 to 60).map(i => s"w$i...\n").mkString + "the and of")), // ellipsis lines
      (7L, ((1 to 60).map(_ => "1234") ++ Seq("the", "and")).mkString(" ")) // alpha frac < 0.8
    ).toDF("doc_id", "text")
    val out = graft.llm.TextStats
      .gopher(docs)
      .collect()
      .map(r => r.getLong(0) -> r.getBoolean(8))
      .toMap
    assert(out(1L), s"clean doc must pass: $out")
    Seq(2L, 3L, 4L, 5L, 6L, 7L).foreach(id => assert(!out(id), s"doc $id should fail: $out"))
  }

  test("DSIR weights rank target-domain lookalikes above off-domain docs") {
    import graft.llm.Dsir
    val rnd = new scala.util.Random(33)
    val aWords = Vector("alpha", "beta", "gamma", "delta", "epsilon", "zeta")
    val bWords = Vector("uno", "dos", "tres", "cuatro", "cinco", "seis")
    def doc(words: Vector[String]) =
      (1 to 30).map(_ => words(rnd.nextInt(words.size))).mkString(" ")
    // target domain (src0) speaks vocabulary A; the raw pool (srcX)
    // contains both A-like and B-like docs — DSIR must tilt toward A
    val rows =
      (0L until 20L).map(i => (i, doc(aWords), "en", Dsir.targetSource)) ++
        (20L until 30L).map(i => (i, doc(aWords), "en", "srcX")) ++
        (30L until 40L).map(i => (i, doc(bWords), "en", "srcX"))
    val df = rows.toDF("doc_id", "text", "lang", "source")
    val w = Dsir
      .weights(df)
      .collect()
      .map(r => r.getLong(0) -> r.getDouble(2))
      .toMap
    val aLike = (20L until 30L).map(w)
    val bLike = (30L until 40L).map(w)
    assert(aLike.min > bLike.max,
      s"A-like raw docs must outrank B-like: min(A)=${aLike.min} max(B)=${bLike.max}")
  }

  test("full Gopher repetition screen: exact fractions on designed docs") {
    import graft.llm.TextStats
    val clean = (1 to 30).map(i => s"w$i").mkString(" ") // 30 distinct tokens
    val dup5 = "p q r s t x p q r s t y" // 5-gram 'p q r s t' twice
    val top2 = ("a b " * 10).trim // 'a b' dominates
    val rows = Seq((1L, clean), (2L, dup5), (3L, top2)).toDF("doc_id", "text")
    val out = TextStats
      .repetitionFull(rows)
      .collect()
      .map(r => r.getLong(0) -> r.getValuesMap[Any](r.schema.fieldNames))
      .toMap
    // clean: top_n = n/30, no dup coverage, passes every threshold
    assert(out(1L)("frac_top_2").asInstanceOf[Double] == 0.066667) // round6(2/30)
    assert(out(1L)("frac_dup_5").asInstanceOf[Double] == 0.0)
    assert(out(1L)("pass").asInstanceOf[Boolean])
    // dup5: coverage = 10 of 12 positions
    assert(out(2L)("frac_dup_5").asInstanceOf[Double] == 0.833333)
    assert(!out(2L)("pass").asInstanceOf[Boolean])
    // top2: 'a b' occurs 10x in 20 tokens → capped fraction 1.0
    assert(out(3L)("frac_top_2").asInstanceOf[Double] == 1.0)
    assert(!out(3L)("pass").asInstanceOf[Boolean])
  }

  test("CCNet buckets split each language into ordered terciles") {
    import graft.llm.TextStats
    val rnd = new scala.util.Random(11)
    val vocab = Vector("a", "b", "c", "d", "e", "f", "g", "h")
    def doc() = (1 to 20).map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" ")
    val rows = (0L until 30L).map(i => (i, doc(), if (i % 2 == 0) "en" else "fr", "src"))
    val out = TextStats
      .ccnet(rows.toDF("doc_id", "text", "lang", "source"))
      .collect()
      .map(r => (r.getString(1), r.getDouble(2), r.getString(3)))
    for (lang <- Seq("en", "fr")) {
      val byBucket = out.filter(_._1 == lang).groupBy(_._3).view.mapValues(_.map(_._2)).toMap
      assert(byBucket.keySet == Set("head", "middle", "tail"), s"$lang buckets: ${byBucket.keySet}")
      assert(byBucket("head").min >= byBucket("middle").max, s"$lang head/middle order")
      assert(byBucket("middle").min >= byBucket("tail").max, s"$lang middle/tail order")
      // 15 docs/lang → tercile sizes 5±ties
      byBucket.values.foreach(v => assert(v.size >= 3 && v.size <= 7, s"$lang sizes: ${byBucket.view.mapValues(_.size).toMap}"))
    }
  }

  test("PII scrub counts and redacts emails, phones, IPs; leaves clean text alone") {
    import graft.llm.TextStats
    val rows = Seq(
      (1L, "mail a.b-c_d%x+1@sub.example.org and z@y.co end"), // two emails
      (2L, "call 213-555-0042 or 800-555-1234 now"), // two phones
      (3L, "hosts 10.0.0.1 and 192.168.255.254 up"), // two IPs
      (4L, "all three: u@example.com 213-555-0042 10.0.0.1"),
      (5L, "nothing to scrub here, not even v1.2 or a-b"),
      (6L, "tricky: almost@an@email 123-45-6789 1.2.3") // none should match
    ).toDF("doc_id", "text")
    val out = TextStats
      .piiScrub(rows)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4))))
      .toMap
    assert(out(1L)._1 == 2 && out(1L)._4 == "mail <EMAIL> and <EMAIL> end")
    assert(out(2L)._2 == 2 && out(2L)._4 == "call <PHONE> or <PHONE> now")
    assert(out(3L)._3 == 2 && out(3L)._4 == "hosts <IP> and <IP> up")
    assert(out(4L) == ((1L, 1L, 1L, "all three: <EMAIL> <PHONE> <IP>")))
    assert(out(5L) == ((0L, 0L, 0L, "nothing to scrub here, not even v1.2 or a-b")))
    // no dot-TLD after '@', SSN shape isn't a phone, 3 octets isn't an IP
    assert(out(6L) == ((0L, 0L, 0L, "tricky: almost@an@email 123-45-6789 1.2.3")))
  }

  test("quality classifier learns the target slice and ranks lookalikes above off-domain") {
    import graft.llm.Classifier
    val rnd = new scala.util.Random(47)
    val aWords = Vector("alpha", "beta", "gamma", "delta", "epsilon", "zeta")
    val bWords = Vector("uno", "dos", "tres", "cuatro", "cinco", "seis")
    def doc(words: Vector[String]) =
      (1 to 30).map(_ => words(rnd.nextInt(words.size))).mkString(" ")
    // positives (src0) speak vocabulary A; the raw pool is half A-like,
    // half B-like — the classifier must score A-like docs higher
    val rows =
      (0L until 20L).map(i => (i, doc(aWords), "en", Classifier.targetSource)) ++
        (20L until 30L).map(i => (i, doc(aWords), "en", "srcX")) ++
        (30L until 40L).map(i => (i, doc(bWords), "en", "srcX"))
    val out = Classifier
      .scores(rows.toDF("doc_id", "text", "lang", "source"))
      .collect()
      .map(r => r.getLong(0) -> r.getDouble(2))
      .toMap
    val aLike = (20L until 30L).map(out)
    val bLike = (30L until 40L).map(out)
    assert(aLike.min > bLike.max,
      s"A-like raw docs must outscore B-like: min(A)=${aLike.min} max(B)=${bLike.max}")
    // the trained boundary actually separates the planted vocabularies
    assert((0L until 20L).map(out).min > bLike.max, "target slice must outscore off-domain")
  }

  test("semantic dedup flags near-identical cell-mates, spares the rest") {
    val rnd = new scala.util.Random(21)
    def unit(): Array[Float] = {
      val v = Array.fill(64)(rnd.nextGaussian())
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(x => (x / n).toFloat)
    }
    val base = Array.fill(16)(unit())
    val near = base(3).map(x => (x + 0.01f * rnd.nextGaussian().toFloat))
    val rows = base.zipWithIndex.map { case (v, i) => (i.toLong, v, 0) } ++
      Seq((16L, near, 0), (17L, unit(), 0))
    val dupes = Similarity
      .semanticDupes(rows.toSeq.toDF("vec_id", "embedding", "label"))
      .collect()
      .map(r => r.getLong(0) -> r.getLong(1))
      .toMap
    assert(dupes.get(16L).contains(3L), s"planted near-copy not flagged: $dupes")
    assert(!dupes.contains(17L), s"unrelated vector flagged: $dupes")
  }

  test("dedup_hash_embed finds the planted near-dup through a heavy shared vocabulary") {
    import spark.implicits._
    // every doc carries 100 shared tokens (raw signed-BoW background
    // cosine ~0.75 — the regime where uncentered LSH stops pruning) plus
    // 30 unique ones; doc 21 is doc 1 with 3 of its unique tokens edited
    val shared = (1 to 100).map(i => s"common$i").mkString(" ")
    def own(d: Int, repl: Map[Int, String] = Map.empty) =
      (1 to 30).map(i => repl.getOrElse(i, s"doc${d}tok$i")).mkString(" ")
    val docs = ((1 to 20).map(d => (d.toLong, s"$shared ${own(d)}")) :+
      (21L, s"$shared ${own(1, Map(12 -> "edited12"))}"))
      .toDF("doc_id", "text")
    val pairs = Dedup.hashEmbedDupes(docs).collect()
    val keys = pairs.map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    assert(keys == Set((1L, 21L)), s"expected exactly the planted pair, got $keys")
    assert(pairs(0).getAs[Double]("cos") > 0.9, s"cos ${pairs(0).getAs[Double]("cos")}")
    // the recall dial: a farther dup (3 of 30 unique tokens edited)
    // needs NARROWER bands to collide — the width-vs-corpus-size trade
    // the scaladoc states, exercised here with a 6x4-bit instance
    val far = ((1 to 20).map(d => (d.toLong, s"$shared ${own(d)}")) :+
      (21L, s"$shared ${own(1, Map(5 -> "e5", 12 -> "e12", 20 -> "e20"))}"))
      .toDF("doc_id", "text")
    val farKeys = Dedup
      .hashEmbedDupes(far, 0.8, 64, 24, 6)
      .collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")))
      .toSet
    assert(farKeys == Set((1L, 21L)), s"narrow-band instance missed the planted pair: $farKeys")
  }

  test("retrieve_chunks ranks the planted near-copy chunk first for its query") {
    import spark.implicits._
    // query docs are 0..3 (first chunk each). Doc 10's SECOND chunk
    // (tokens 33..64) is a near-copy of query doc 1's first chunk;
    // the other docs are unrelated vocabulary.
    def toks(pfx: String, a: Int, b: Int) = (a to b).map(i => s"$pfx$i").mkString(" ")
    val q1chunk = toks("q1w", 1, 32)
    val docs = (
      (0 to 3).map(d => (d.toLong, toks(s"q${d}w", 1, 40))) ++
        (5 to 9).map(d => (d.toLong, toks(s"d${d}w", 1, 40))) :+
        // chunk 0 = filler, chunk 1 = the near-copy (2 tokens edited)
        (10L, s"${toks("fill", 1, 32)} ${q1chunk.replace("q1w3 ", "edited3 ").replace("q1w17 ", "edited17 ")}")
    ).toDF("doc_id", "text")
    val got = Dedup
      .retrieveChunks(docs)
      .collect()
      .map(r =>
        (r.getAs[Long]("qdoc"), r.getAs[Int]("rank")) ->
          (r.getAs[Long]("doc_b"), r.getAs[Long]("chunk_b"), r.getAs[Double]("cos"))
      )
      .toMap
    val top = got.get((1L, 1))
    assert(top.exists(t => t._1 == 10L && t._2 == 1L), s"planted chunk not ranked first: $got")
    assert(top.exists(_._3 > 0.8), s"planted chunk cos too low: $top")
  }

  test("winnowing guarantees a shared fingerprint for a long shared run") {
    import spark.implicits._
    // a 12-token run shared between docs 1 and 2 (>= w + 2 = 6 tokens —
    // the Schleimer guarantee threshold with 3-shingles and w = 4);
    // doc 3 is disjoint vocabulary
    val shared = (1 to 12).map(i => s"common$i").mkString(" ")
    val docs = Seq(
      (1L, s"aa bb cc dd $shared ee ff gg"),
      (2L, s"xx yy $shared zz ww"),
      (3L, "p1 p2 p3 p4 p5 p6 p7 p8 p9 p10 p11 p12 p13 p14 p15")
    ).toDF("doc_id", "text")
    val fps = graft.llm.TextStats
      .winnow(docs)
      .collect()
      .map(r => r.getLong(0) -> r.getString(1))
      .groupBy(_._1)
      .map { case (d, xs) => d -> xs.map(_._2).toSet }
    assert((fps(1L) & fps(2L)).nonEmpty, "shared run produced no shared fingerprint")
    assert((fps(1L) & fps(3L)).isEmpty && (fps(2L) & fps(3L)).isEmpty,
      "disjoint docs share a fingerprint")
  }

  test("winnow top-k report: replica classes collapse, partners rank by shared fps, both directions") {
    import spark.implicits._
    val runA = (1 to 16).map(i => s"common$i").mkString(" ")
    val runB = (1 to 30).map(i => s"big$i").mkString(" ")
    val distinctDocs = Seq(
      (1L, s"aa bb cc dd $runA ee $runB ff"), // overlaps 2 (runA) and 4 (runB, longer)
      (2L, s"xx yy $runA zz ww"),
      (3L, "p1 p2 p3 p4 p5 p6 p7 p8 p9 p10 p11 p12 p13 p14 p15"),
      (4L, s"qq rr $runB ss tt")
    )
    // replicas of doc 2's exact text: same capped fp set -> same class
    val docs = (distinctDocs ++ Seq((21L, distinctDocs(1)._2), (22L, distinctDocs(1)._2)))
      .toDF("doc_id", "text")
    val rows = graft.llm.TextStats
      .winnowTopk(docs)
      .collect()
      .map(r =>
        (r.getAs[Long]("doc_a"), r.getAs[Int]("rnk")) ->
          (r.getAs[Long]("doc_b"), r.getAs[Long]("n_shared"), r.getAs[Long]("n_docs_a"), r.getAs[Long]("n_docs_b"))
      )
      .toMap
    // replicas 21/22 never appear as a class of their own
    assert(!rows.keys.exists(k => k._1 >= 21L), s"replica docs leaked into the report: $rows")
    // doc 1's rank-1 partner is 4 (the longer shared run beats runA's)
    val r1 = rows((1L, 1)); val r2 = rows((1L, 2))
    assert(r1._1 == 4L && r2._1 == 2L, s"rank order wrong: $rows")
    assert(r1._2 > r2._2, s"longer run should share more fps: $rows")
    // both directions: doc 2's class reports partner 1, with its class size 3
    val d2 = rows.collect { case ((2L, _), v) => v }
    assert(d2.exists(_._1 == 1L), s"doc 2 report missing partner 1: $rows")
    assert(d2.forall(_._3 == 3L), s"class size of {2,21,22} should be 3: $rows")
    // class-collapse invariance: the distinct corpus yields the same
    // (doc_a, rnk, doc_b, n_shared) rows, only n_docs differs
    val distinctRows = graft.llm.TextStats
      .winnowTopk(distinctDocs.toDF("doc_id", "text"))
      .collect()
      .map(r => ((r.getAs[Long]("doc_a"), r.getAs[Int]("rnk")), (r.getAs[Long]("doc_b"), r.getAs[Long]("n_shared"))))
      .toMap
    assert(rows.map { case (k, v) => k -> (v._1, v._2) } == distinctRows,
      s"collapse changed the report: $rows vs $distinctRows")
  }

  test("mix schedule: exact largest-remainder quotas, epoch wraparound, balanced interleave") {
    import spark.implicits._
    import graft.llm.Curation
    def sched(docs: Seq[(Long, String, String)], ws: Seq[(String, Long)], n: Int) =
      Curation
        .mixScheduleFrom(
          docs.toDF("doc_id", "text", "source"),
          ws.toDF("source", "u6"),
          n
        )
        .collect()
        .map(r =>
          (r.getAs[String]("source"), r.getAs[Long]("k")) ->
            (r.getAs[Long]("epoch"), r.getAs[Long]("ord"), r.getAs[Long]("doc_id"))
        )
        .toMap
    val docs3 = (1L to 4L).map(i => (i, "t", "a")) ++ Seq((5L, "t", "b"), (6L, "t", "b"), (7L, "t", "c"))
    // exact integer quotas: weights 3:1:1 over 10 steps -> 6/2/2
    val q1 = sched(docs3, Seq(("a", 3L), ("b", 1L), ("c", 1L)), 10).groupBy(_._1._1).map { case (s, xs) => s -> xs.size }
    assert(q1 == Map("a" -> 6, "b" -> 2, "c" -> 2), s"largest-remainder quotas wrong: $q1")
    // remainder tie (1:1:1 over 10): deficit 1 goes to the FIRST source by name
    val q2 = sched(docs3, Seq(("a", 1L), ("b", 1L), ("c", 1L)), 10).groupBy(_._1._1).map { case (s, xs) => s -> xs.size }
    assert(q2 == Map("a" -> 4, "b" -> 3, "c" -> 3), s"tie-break wrong: $q2")
    // wraparound: source b has 2 docs; at q=5 its draws cycle epochs 0,0,1,1,2
    // with the SAME md5-ordered doc cycle each epoch (upsampling semantics)
    val s3 = sched(docs3, Seq(("b", 1L)), 5)
    val bDraws = (1L to 5L).map(k => s3(("b", k)))
    assert(bDraws.map(_._1) == Seq(0L, 0L, 1L, 1L, 2L), s"epochs wrong: $bDraws")
    assert(bDraws.map(_._3).take(2) == bDraws.map(_._3).slice(2, 4), "each epoch must replay the same doc cycle")
    assert(bDraws.map(_._3).toSet.subsetOf(Set(5L, 6L)), "draws must stay inside the source's docs")
    // balanced interleave: equal weights over 8 steps alternate strictly
    // when ordered by (ord, source, k)
    val s4 = sched(docs3, Seq(("a", 1L), ("b", 1L)), 8)
    val order = s4.toSeq.sortBy { case ((src, k), (_, ord, _)) => (ord, src, k) }.map(_._1._1)
    assert(order == Seq("a", "b", "a", "b", "a", "b", "a", "b"), s"interleave broken: $order")
  }

  test("CDC chunking survives a head insertion where fixed windows do not") {
    import spark.implicits._
    val rnd = new scala.util.Random(21)
    val words = (1 to 200).map(_ => s"w${rnd.nextInt(5000)}").mkString(" ")
    val docs = Seq((1L, words), (2L, s"inserted $words")).toDF("doc_id", "text")
    def hashes(df: org.apache.spark.sql.DataFrame, d: Long) =
      df.filter(org.apache.spark.sql.functions.col("doc_id") === d)
        .select("chunk_md5")
        .collect()
        .map(_.getString(0))
        .toSet
    val cdc = graft.llm.TextStats.chunksCdc(docs)
    val (a, b) = (hashes(cdc, 1L), hashes(cdc, 2L))
    val cdcShared = (a & b).size.toDouble / a.size
    // only the chunk containing the insertion point changes; everything
    // after the next content boundary re-aligns
    assert(cdcShared >= 0.8, s"CDC chunks not shift-robust: $cdcShared shared")
    val fixed = graft.llm.TextStats.chunks(docs)
    val (fa, fb) = (hashes(fixed, 1L), hashes(fixed, 2L))
    val fixedShared = (fa & fb).size.toDouble / fa.size
    assert(fixedShared < cdcShared, s"fixed windows should shift everywhere: $fixedShared")
  }

  test("gear CDC chunking is char-level shift-robust: boundaries re-align after the window clears an insertion") {
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    val text = (1 to 300).map(_ => s"w${rnd.nextInt(5000)}").mkString(" ")
    val docs = Seq((1L, text), (2L, s"xyz $text")).toDF("doc_id", "text")
    def hashes(d: Long) =
      graft.llm.TextStats
        .chunksGear(docs)
        .filter($"doc_id" === d)
        .select("chunk_md5")
        .collect()
        .map(_.getString(0))
        .toSet
    val (a, b) = (hashes(1L), hashes(2L))
    // the 4-char head insertion perturbs chunking only until the first
    // boundary past the 48-char gear window; later chunks re-align
    // byte-for-byte. (The tail differs too: doc 2's char cap truncates
    // 4 chars earlier — exclude at most the final chunk.)
    val shared = (a & b).size.toDouble / a.size
    assert(shared >= 0.7, s"gear chunks not shift-robust: $shared shared of ${a.size}")
    assert(a.size >= 10, s"expected a healthy chunk count, got ${a.size}")
    // empty doc: sequence(1, 0) DESCENDS in Spark — the pre-filter must
    // keep it from emitting phantom char rows (oracle emits none)
    val withEmpty = Seq((1L, "hello world"), (2L, "")).toDF("doc_id", "text")
    val rows = graft.llm.TextStats.chunksGear(withEmpty).collect()
    assert(rows.forall(_.getLong(0) == 1L), s"empty doc produced chunks: ${rows.mkString(",")}")
  }

  test("sharedRuns finds planted long runs exactly: position, length, threshold, merging") {
    import spark.implicits._
    val rnd = new scala.util.Random(44)
    def fresh(p: String, n: Int) = (1 to n).map(_ => s"$p${rnd.nextInt(100000)}").mkString(" ")
    val run55 = (1 to 55).map(i => s"shared$i").mkString(" ")
    val run49 = (1 to 49).map(i => s"short$i").mkString(" ")
    val runA = (1 to 50).map(i => s"a$i").mkString(" ")
    val runB = (1 to 50).map(i => s"b$i").mkString(" ")
    val runC = (1 to 50).map(i => s"c$i").mkString(" ")
    val runD = (1 to 50).map(i => s"d$i").mkString(" ")
    val docs = Seq(
      // 55-run at position 21 of doc 1, position 1 of doc 2
      (1L, s"${fresh("x", 20)} $run55 ${fresh("y", 30)}"),
      (2L, s"$run55 ${fresh("z", 10)}"),
      // 49-token shared run: below threshold, must NOT be reported
      (3L, s"${fresh("p", 10)} $run49"),
      (4L, s"$run49 ${fresh("q", 10)}"),
      // two ADJACENT 50-runs in doc 5 shared with DIFFERENT partners:
      // the boundary grams (spanning a|b) are shared with nobody, so
      // these stay two maximal runs — not one 100-token interval
      (5L, s"$runA $runB"),
      (6L, s"${fresh("m", 5)} $runA"),
      (7L, s"$runB ${fresh("n", 5)}"),
      // full-copy pair: every gram start shared → ONE merged 100-run
      (9L, s"$runC $runD"),
      (10L, s"$runC $runD")
    ).toDF("doc_id", "text")
    val runs = Dedup
      .sharedRuns(docs)
      .collect()
      .map(r => (r.getLong(0), r.getAs[Number]("run_start").longValue(), r.getLong(2)))
      .toSet
    assert(runs.contains((1L, 21L, 55L)), s"doc 1 run wrong: $runs")
    assert(runs.contains((2L, 1L, 55L)))
    assert(!runs.exists(_._1 == 3L) && !runs.exists(_._1 == 4L), "sub-threshold run reported")
    assert(
      runs.contains((5L, 1L, 50L)) && runs.contains((5L, 51L, 50L)),
      s"different-partner adjacent runs must stay separate: $runs"
    )
    assert(runs.contains((6L, 6L, 50L)) && runs.contains((7L, 1L, 50L)))
    assert(
      runs.contains((9L, 1L, 100L)) && runs.contains((10L, 1L, 100L)),
      s"full-copy pair should merge to one maximal run: $runs"
    )
    // a doc's internal self-repeat is NOT a cross-doc run
    val selfDoc = Seq((8L, s"$runA $runA")).toDF("doc_id", "text")
    assert(Dedup.sharedRuns(selfDoc).count() == 0)
    // the r14 64-bit scale path produces the IDENTICAL run table on
    // the same corpus (collision-free at any realistic gram count)
    val fast = Dedup
      .sharedRunsFast(docs)
      .collect()
      .map(r => (r.getLong(0), r.getAs[Number]("run_start").longValue(), r.getLong(2)))
      .toSet
    assert(fast == runs, s"sharedRunsFast diverged from the md5 form: $fast vs $runs")
  }

  test("dedup_chunks accounts duplicate-chunk spans exactly against a hand count") {
    import spark.implicits._
    val rnd = new scala.util.Random(33)
    // doc 1 is original; doc 2 embeds doc 1's full text between fresh
    // head/tail passages (the shared-passage case CDC re-aligns on);
    // doc 3 is disjoint
    val shared = (1 to 150).map(_ => s"s${rnd.nextInt(4000)}").mkString(" ")
    val head = (1 to 40).map(_ => s"h${rnd.nextInt(4000)}").mkString(" ")
    val tail = (1 to 40).map(_ => s"t${rnd.nextInt(4000)}").mkString(" ")
    val other = (1 to 100).map(_ => s"o${rnd.nextInt(4000)}").mkString(" ")
    val docs =
      Seq((1L, shared), (2L, s"$head $shared $tail"), (3L, other)).toDF("doc_id", "text")
    val out = Dedup.dedupChunks(docs).collect().map(r => r.getLong(0) -> r).toMap
    // invariants: per-doc token conservation and keeper accounting
    out.values.foreach { r =>
      assert(r.getAs[Long]("dup_tok") + r.getAs[Long]("kept_tok") == r.getAs[Long]("n_tok"))
    }
    assert(out(1L).getAs[Long]("dup_chunks") == 0L, "doc 1 owns every first occurrence")
    assert(out(3L).getAs[Long]("dup_chunks") == 0L, "disjoint doc has no dup chunks")
    val d2 = out(2L)
    assert(d2.getAs[Long]("dup_chunks") >= 5L, "embedded shared passage must fall as dup chunks")
    // the duplicated token volume is most of the shared passage (CDC
    // re-aligns after the head insertion's first boundary)
    assert(d2.getAs[Long]("dup_tok") >= 100L, s"dup_tok = ${d2.getAs[Long]("dup_tok")}")
    // cross-check against an independent chunk-hash count
    val ch = graft.llm.TextStats.chunksCdc(docs)
    val firstByHash = ch
      .collect()
      .groupBy(_.getString(3))
      .values
      .map(_.minBy(r => (r.getLong(0), r.getLong(1))))
      .map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    val expectDup2 = ch
      .collect()
      .count(r => r.getLong(0) == 2L && !firstByHash((r.getLong(0), r.getLong(1))))
    assert(d2.getAs[Long]("dup_chunks") == expectDup2.toLong)
  }

  test("dedup_keep_best keeps the highest-quality cluster member, not the min id") {
    import spark.implicits._
    // docs 1..3 are one near-dup cluster (≥0.7 shingle jaccard); doc 1
    // (the min id — the canonical component label) is digit-polluted so
    // its quality score is LOWEST; doc 4 is unrelated
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val docs = Seq(
      (1L, s"$base 111 222 333 444 555"),
      (2L, s"$base extra"),
      (3L, s"$base other tail"),
      (4L, (1 to 40).map(i => s"zz$i").mkString(" "))
    ).toDF("doc_id", "text")
    val rows = Dedup.keepBest(docs).collect()
    assert(rows.length == 4)
    val byId = rows.map(r => r.getAs[Long]("doc_id") -> r).toMap
    // one cluster {1,2,3} labeled by the min id, plus the singleton
    assert(Seq(1L, 2L, 3L).forall(byId(_).getAs[Long]("comp_id") == 1L))
    assert(byId(4L).getAs[Long]("comp_id") == 4L && byId(4L).getAs[Boolean]("keep"))
    // exactly one keeper in the cluster, and it is NOT doc 1
    val keepers = Seq(1L, 2L, 3L).filter(byId(_).getAs[Boolean]("keep"))
    assert(keepers.length == 1, s"cluster keepers: $keepers")
    assert(keepers.head != 1L, "min-id doc kept despite lowest quality")
    val kq = byId(keepers.head).getAs[Double]("q")
    Seq(1L, 2L, 3L).foreach(d => assert(byId(d).getAs[Double]("q") <= kq))
  }

  test("bigram log-prob matches the hand-computed conditional LM") {
    val docs = Seq(
      (1L, "a b a b"),
      (2L, "a b c"),
      (3L, "z")
    ).toDF("doc_id", "text")
    val got = graft.llm.TextStats
      .bigramLogProb(docs)
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2)))
      .toMap
    // corpus bigrams: "a b"×3, "b a"×1, "b c"×1; first-token counts a·=3, b·=2
    // doc 1: ln(3/3) + ln(1/2) + ln(3/3) over 3 bigrams
    // doc 2: ln(3/3) + ln(1/2) over 2 bigrams; doc 3: too short, no row
    def r6(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
    assert(got(1L)._1 == 3L && got(1L)._2 == r6(math.log(0.5) / 3))
    assert(got(2L)._1 == 2L && got(2L)._2 == r6(math.log(0.5) / 2))
    assert(!got.contains(3L))
  }

  test("lsh buckets put identical vectors together") {
    val vecs = Seq(
      (0L, Array.fill(64)(1.0f), 0),
      (1L, Array.fill(64)(1.0f), 0),
      (2L, Array.fill(64)(-1.0f), 1)
    ).toDF("vec_id", "embedding", "label")
    val b = Similarity
      .lshBuckets(vecs)
      .collect()
      .map(r => r.getLong(0) -> r.getLong(2))
      .toMap
    assert(b(0L) == b(1L))
    assert(b(0L) != b(2L))
  }

  test("sample_budget conserves the token budget up to per-source rounding") {
    val docs = graft.core.Tables.documents(spark, sf)
    val rows = graft.llm.Curation.sampleBudget(docs, budget = 10000000L).collect()
    val nSources = rows.length
    // each w_micro rounds within 0.5 micro-units, so the split misses
    // the budget by at most nSources half-units of B/1e6 tokens
    val sumTarget = rows.map(_.getAs[Long]("target_tok")).sum
    assert(math.abs(sumTarget - 10000000L) <= nSources * 5L, s"sum=$sumTarget")
    rows.foreach { r =>
      val epochs = r.getAs[Double]("epochs")
      val expect = r.getAs[Long]("target_tok").toDouble / r.getAs[Long]("n_tok")
      assert(math.abs(epochs - expect) < 1e-6)
      assert(r.getAs[Double]("mix_weight") >= 0.0 && r.getAs[Double]("mix_weight") <= 1.0)
    }
  }

  test("dedup_lines: corpus-first keeper per line across boilerplate, shared-body and within-doc repeats") {
    import spark.implicits._
    val w8a = (1 to 8).map(i => s"ua$i").mkString(" ") // unique to doc 6
    val w8s = (1 to 8).map(i => s"sh$i").mkString(" ") // shared by docs 3 and 7
    val w8r = (1 to 8).map(i => s"rp$i").mkString(" ") // repeated within doc 11
    val w8b = (1 to 8).map(i => s"nb$i").mkString(" ") // doc 9's own body
    val w8c = (1 to 8).map(i => s"nc$i").mkString(" ") // doc 13's own body
    val w8d = (1 to 8).map(i => s"nd$i").mkString(" ") // doc 8's own body
    val w8e = (1 to 8).map(i => s"ne$i").mkString(" ") // doc 14's own body
    // ids chosen against the plants: 9,13 ≡1 (mod 4) boiler-prepended;
    // 8,14 ≡2 (mod 6) boiler-appended; 102,587 ≡5 (mod 97) body
    // REPLACED by the shared passage; 3,6,7,11 hit no plant
    val docs = Seq(
      (3L, w8s), (6L, w8a), (7L, w8s), (11L, s"$w8r $w8r"),
      (9L, w8b), (13L, w8c), (8L, w8d), (14L, w8e),
      (102L, "ignored body"), (587L, "ignored body")
    ).toDF("doc_id", "text")
    val out = graft.llm.Dedup
      .dedupLines(docs)
      .collect()
      .map(r => r.getAs[Long]("doc_id") -> (r.getAs[Long]("n_lines"), r.getAs[Long]("n_kept")))
      .toMap
    assert(out(6L) == (1L, 1L)) // unique line kept
    assert(out(3L) == (1L, 1L) && out(7L) == (1L, 0L)) // shared body: min doc keeps
    assert(out(11L) == (2L, 1L)) // within-doc repeat collapses
    assert(out(9L) == (2L, 2L) && out(13L) == (2L, 1L)) // subscribe boiler kept once
    assert(out(8L) == (2L, 2L) && out(14L) == (2L, 1L)) // copyright boiler kept once
    assert(out(102L) == (2L, 2L) && out(587L) == (2L, 0L)) // syndicated full copy
    // a fully-dropped doc hashes the EMPTY clean text
    val md587 = graft.llm.Dedup
      .dedupLines(docs)
      .filter($"doc_id" === 587L)
      .head
      .getAs[String]("md5_clean")
    assert(md587 == java.security.MessageDigest.getInstance("MD5").digest(Array.empty[Byte]).map("%02x".format(_)).mkString)
  }

  test("text_scripts: planted script tails classify; pure-ASCII doc is 'none'") {
    import spark.implicits._
    val base = "plain ascii words only here"
    val docs = Seq((3L, base), (5L, base), (7L, base), (8L, base)).toDF("doc_id", "text")
    val out = graft.llm.TextStats
      .textScripts(docs)
      .collect()
      .map(r =>
        r.getAs[Long]("doc_id") ->
          ((r.getAs[Long]("n_cyrillic"), r.getAs[Long]("n_cjk"), r.getAs[Long]("n_greek"), r.getAs[String]("script")))
      )
      .toMap
    assert(out(3L)._1 > 0 && out(3L)._4 == "cyrillic")
    assert(out(5L)._2 == 6 && out(5L)._4 == "cjk") // 6 CJK code points planted
    assert(out(7L)._3 > 0 && out(7L)._4 == "greek")
    assert(out(8L) == ((0L, 0L, 0L, "none")))
  }

  test("bigramKn matches the hand-computed interpolated Kneser-Ney probabilities") {
    import spark.implicits._
    // corpus: d1 = "a b a b", d2 = "a b c"
    // c(ab)=3 c(ba)=1 c(bc)=1; n_a(a)=3 n_a(b)=2; t1(a)=1 t1(b)=2;
    // Pcont = t2/T with t2(b)=t2(a)=t2(c)=1, T=3
    // P(b|a) = (3-.75 + .75*1/3)/3 = 2.5/3; P(a|b) = P(c|b) = .375
    val docs = Seq((1L, "a b a b"), (2L, "a b c")).toDF("doc_id", "text")
    val got = graft.llm.TextStats
      .bigramKn(docs)
      .collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("avg_logprob_kn"))
      .toMap
    val pba = math.log(2.5 / 3.0)
    val pab = math.log(0.375)
    assert(math.abs(got(1L) - (2 * pba + pab) / 3.0) < 1e-6)
    assert(math.abs(got(2L) - (pba + pab) / 2.0) < 1e-6)
  }

  test("sample_draw executes the budget: floor-epochs guaranteed, residual draw conserves tokens") {
    import org.apache.spark.sql.functions._
    val docs = graft.core.Tables.documents(spark, sf)
    val budget = 10000000L
    val plan = graft.llm.Curation
      .sampleBudget(docs, budget = budget)
      .collect()
      .map(r => r.getAs[String]("source") -> ((r.getAs[Long]("target_tok"), r.getAs[Long]("n_tok"))))
      .toMap
    val draw = graft.llm.Curation.sampleDraw(docs, budget = budget).collect()
    // every doc gets at least the integral-epoch guaranteed copies
    draw.foreach { r =>
      val (target, srcTok) = plan(r.getAs[String]("source"))
      assert(r.getAs[Long]("n_copies") >= target / srcTok)
      assert(r.getAs[Long]("n_copies") <= target / srcTok + 1)
    }
    // per-source drawn tokens concentrate on target_tok: the residual
    // is a deterministic-hash binomial over frac_micro — allow 4 sigma
    draw.groupBy(_.getAs[String]("source")).foreach { case (src, rows) =>
      val (target, srcTok) = plan(src)
      val drawn = rows.map(r => r.getAs[Long]("n_copies") * r.getAs[Long]("n_tok")).sum
      val frac = (target % srcTok).toDouble / srcTok
      val maxTok = rows.map(_.getAs[Long]("n_tok")).max.toDouble
      val sigma = math.sqrt(rows.length * frac * (1 - frac)) * maxTok
      assert(
        math.abs(drawn - target) <= math.max(4 * sigma, maxTok),
        s"$src drew $drawn vs target $target (sigma=$sigma)"
      )
    }
    // deterministic: a second evaluation draws the identical multiset
    val again = graft.llm.Curation
      .sampleDraw(docs, budget = budget)
      .collect()
      .map(r => (r.getLong(0), r.getAs[Long]("n_copies")))
      .sortBy(_._1)
    assert(again.toSeq == draw.map(r => (r.getLong(0), r.getAs[Long]("n_copies"))).sortBy(_._1).toSeq)
  }

  test("sample_budget: an empty-text source gets epochs = 0, no division crash") {
    import spark.implicits._
    // whitespace-split can't produce n_tok = 0 from a non-empty source
    // (split("", " ") has size 1), so the guard is defensive against
    // tokenizers that drop empties; assert the live path still works
    // and replay the guarded output expression at n_tok = 0 directly.
    val docs = Seq(
      (1L, "alpha beta gamma delta", "live"),
      (2L, "one two three", "live")
    ).toDF("doc_id", "text", "source")
    // sanity: normal path still computes epochs > 0
    val live = graft.llm.Curation.sampleBudget(docs, budget = 1000000L).collect()
    assert(live.forall(_.getAs[Double]("epochs") > 0.0))
    // the guard itself: replay the output expression with n_tok = 0
    val guarded = spark
      .sql(
        "SELECT CASE WHEN n_tok = 0 THEN 0.0D ELSE CAST(w_micro * 1 AS DOUBLE) / CAST(n_tok AS DOUBLE) END AS epochs " +
          "FROM VALUES (0L, 0L) AS t(n_tok, w_micro)"
      )
      .collect()
    assert(guarded.head.getDouble(0) == 0.0)
  }

  test("curate_web funnel: each stage bites exactly where planted") {
    import spark.implicits._
    val good = (1 to 20).map(i => s"plain$i").mkString(" ")
    // doc_ids chosen against the plants: 18 and 96 are mirror docs
    // (≡5 mod 13, same %3 → identical planted text, different hosts);
    // 22 is a junk doc (≡0 mod 11 → punctuation flood, quality fails);
    // 281 shares doc 1's canonical URL (same %20/%7, no params on
    // either) so URL dedup drops it; 7 sits on a blocked host
    val docs = Seq(1L, 7L, 18L, 22L, 96L, 281L)
      .map(id => (id, good))
      .toDF("doc_id", "text")
    val out = graft.llm.Urls
      .curateWeb(docs)
      .collect()
      .map(r => r.getString(0) -> r)
      .toMap
    def f(h: String, c: String): Long = out(s"$h.example.com").getAs[Long](c)
    // funnel monotonicity everywhere
    out.values.foreach { r =>
      val (d, b, u, q, fin) = (r.getAs[Long]("n_docs"), r.getAs[Long]("n_blocked"),
        r.getAs[Long]("n_url_kept"), r.getAs[Long]("n_quality"), r.getAs[Long]("n_final"))
      assert(u <= d - b && q <= u && fin <= q, s"non-monotone funnel row $r")
    }
    assert(f("site7", "n_blocked") == 1L && f("site7", "n_url_kept") == 0L)
    // URL dedup: docs 1 and 281 share a canon → one survivor on site1
    assert(f("site1", "n_docs") == 2L && f("site1", "n_url_kept") == 1L)
    assert(f("site1", "n_final") == 1L)
    // quality: the junk doc survives URL stages but dies at quality
    assert(f("site2", "n_url_kept") == 1L && f("site2", "n_quality") == 0L)
    // exact dedup: the mirror pair passes quality on both hosts but
    // only the min doc_id (18, host site18) is final
    assert(f("site18", "n_quality") == 1L && f("site18", "n_final") == 1L)
    assert(f("site16", "n_quality") == 1L && f("site16", "n_final") == 0L)
  }

  test("url_surt: host labels reverse behind the canonicalizer; domain becomes a key prefix") {
    import spark.implicits._
    // doc 0 exercises the full mess: https + WWW. + mixed case + :443
    // + trailing slash + utm param + fragment — all must wash out
    val docs = Seq((0L, "x"), (281L, "x"), (122L, "x")).toDF("doc_id", "text")
    val out = graft.llm.Urls
      .urlSurt(docs)
      .collect()
      .map(r => r.getLong(0) -> r.getAs[String]("surt"))
      .toMap
    assert(out(0L) == "com,example,site0)/articles/0?ref=0", s"got ${out(0L)}")
    assert(out(281L) == "com,example,site1)/articles/1", s"got ${out(281L)}")
    assert(out(122L) == "com,example,site2)/articles/3", s"got ${out(122L)}")
    // every surt of one host shares the host's reversed prefix — the
    // range-scan property
    assert(out.values.forall(_.matches("com,example,site[0-9]+\\).*")))
  }

  test("crawl_robots: longest rule governs, allow wins ties, no rule means allowed") {
    import spark.implicits._
    // host = doc_id%20, path = /articles/{doc_id%7}
    val docs = Seq(
      40L, // host0 (rules), path /articles/5: allow /articles/5 beats disallow /articles
      100L, // host0, path /articles/2: exact allow/disallow TIE at /articles/2 -> allow
      120L, // host0, path /articles/1: only disallow /articles matches
      101L, // host1, path /articles/3: disallow /articles/3
      141L, // host1, path /articles/1: no rule matches -> allowed
      122L // host2, path /articles/3: host publishes no rules -> allowed
    ).map((_, "x")).toDF("doc_id", "text")
    val out = graft.llm.Urls
      .crawlRobots(docs)
      .collect()
      .map(r => r.getLong(0) -> ((r.getAs[Boolean]("allowed"), r.getAs[String]("rule_dir"), r.getAs[String]("rule_prefix"))))
      .toMap
    assert(out(40L) == ((true, "allow", "/articles/5")), s"got ${out(40L)}")
    assert(out(100L) == ((true, "allow", "/articles/2")), s"got ${out(100L)}")
    assert(out(120L) == ((false, "disallow", "/articles")), s"got ${out(120L)}")
    assert(out(101L) == ((false, "disallow", "/articles/3")), s"got ${out(101L)}")
    assert(out(141L) == ((true, "", "")), s"got ${out(141L)}")
    assert(out(122L) == ((true, "", "")), s"got ${out(122L)}")
  }

  test("sim_filtered_topk: predicate pre-filters candidates; near neighbors of the wrong label never rank") {
    import spark.implicits._
    def v(parts: (Int, Float)*): Array[Float] = {
      val a = Array.fill(64)(0f); parts.foreach { case (i, x) => a(i) = x }; a
    }
    // query space: vec 0..9 are queries (nQueries = 10); q1..q9 sit on
    // orthogonal axes so they can't crowd q0's top-k. Corpus: vec 20
    // is ALMOST q0 but label 0 — it must never appear; label-1
    // vectors 21..22 at decreasing cosine fill q0's top-k instead
    val rows = Seq((0L, v(0 -> 1f, 1 -> 0.01f), 1)) ++
      (1L to 9L).map(i => (i, v(i.toInt + 1 -> 1f), 1)) ++ Seq(
        (20L, v(0 -> 1f), 0), // the near-twin with the WRONG label
        (21L, v(0 -> 1f, 1 -> 0.3f), 1),
        (22L, v(0 -> 1f, 1 -> 0.8f), 1),
        (23L, v(1 -> 1f), 1) // orthogonal-ish, still label 1
      )
    val emb = rows.toDF("vec_id", "embedding", "label")
    val out = graft.llm.Similarity
      .filteredTopk(emb, nList = 4, nProbe = 4)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(out.nonEmpty)
    val labels = rows.map(r => r._1 -> r._3).toMap
    assert(out.forall { case (_, vid) => labels(vid) == 1 }, s"wrong-label vid ranked: ${out.toSeq}")
    assert(!out.exists(_._2 == 20L), "the near-twin with label 0 must be pre-filtered")
    // query 0's top hits include the label-1 neighbors
    val q0 = out.filter(_._1 == 0L).map(_._2).toSet
    assert(q0.contains(21L) && q0.contains(22L), s"q0 got $q0")
  }

  test("crawl_schedule: robots survivors get per-host sequential slots at the host's politeness delay") {
    import spark.implicits._
    // host1 (delay 1000 ms): docs 141, 161 allowed, 101 disallowed
    // (path /articles/3); host2 (delay 1500): doc 122; host3 (delay
    // 500): doc 123 (path /articles/4, no rule for host3 ≡ 0 mod 3?
    // host3 % 3 = 0 -> blanket disallow /articles) — use host5 instead
    val docs = Seq(141L, 161L, 101L, 122L, 185L).map((_, "x")).toDF("doc_id", "text")
    val out = graft.llm.Urls
      .crawlSchedule(docs)
      .collect()
      .map(r => r.getLong(0) -> ((r.getAs[String]("host"), r.getAs[Long]("slot"), r.getAs[Long]("fetch_at_ms"))))
      .toMap
    assert(!out.contains(101L), "disallowed URL must not be scheduled")
    // host1: two fetches, doc_id order, 1000 ms apart (1 % 3 = 1 -> 2·500)
    assert(out(141L) == (("site1.example.com", 1L, 0L)), s"got ${out(141L)}")
    assert(out(161L) == (("site1.example.com", 2L, 1000L)), s"got ${out(161L)}")
    // host2: delay class 2 % 3 = 2 -> 1500 ms, single fetch at 0
    assert(out(122L) == (("site2.example.com", 1L, 0L)))
    // host5: 5 % 3 = 2 -> no rules, allowed, slot 1
    assert(out(185L)._1 == "site5.example.com" && out(185L)._2 == 1L)
  }

  test("crawl_robots_parsed: rules parsed from robots.txt text reproduce the literal-rule verdicts") {
    import spark.implicits._
    val docs = Seq(40L, 100L, 120L, 101L, 141L, 122L, 185L).map((_, "x")).toDF("doc_id", "text")
    val lit = graft.llm.Urls
      .crawlRobots(docs)
      .collect()
      .map(r => r.getLong(0) -> ((r.getBoolean(3), r.getString(4), r.getString(5))))
      .toMap
    val parsed = graft.llm.Urls
      .crawlRobotsParsed(docs)
      .collect()
      .map(r =>
        r.getLong(0) -> ((r.getBoolean(3), r.getString(4), r.getString(5), r.getAs[Long]("crawl_delay_s")))
      )
      .toMap
    for ((id, (al, d, p)) <- lit)
      assert(parsed(id)._1 == al && parsed(id)._2 == d && parsed(id)._3 == p, s"doc $id: ${parsed(id)} vs ${lit(id)}")
    // Crawl-delay parsed only where planted (hosts ≡ 0 mod 3 -> 2 s)
    assert(parsed(40L)._4 == 2L && parsed(120L)._4 == 2L, s"delay: ${parsed(40L)}")
    assert(parsed(101L)._4 == 1L && parsed(122L)._4 == 1L, "default delay where absent")
  }

  test("scheduleStream: per-host slots continue across batches; robots screen holds on the stream") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val q = graft.llm.Urls
      .scheduleStream(input.toDF().toDF("doc_id", "text"))
      .writeStream
      .outputMode("append")
      .format("memory")
      .queryName("sched_stream_out")
      .start()
    // batch 1: host1 gets doc 141 (slot 1); 101 is robots-disallowed
    input.addData((141L, "x"), (101L, "x"))
    q.processAllAvailable()
    // batch 2: host1's NEXT fetch (161) must take slot 2 at +1000 ms —
    // the counter survived the batch boundary
    input.addData((161L, "x"), (122L, "x"))
    q.processAllAvailable()
    q.stop()
    val got = spark
      .table("sched_stream_out")
      .collect()
      .map(r => r.getLong(0) -> ((r.getAs[Long]("slot"), r.getAs[Long]("fetch_at_ms"))))
      .toMap
    assert(!got.contains(101L), "disallowed URL scheduled on the stream")
    assert(got(141L) == ((1L, 0L)) && got(161L) == ((2L, 1000L)), s"slot continuity broke: $got")
    assert(got(122L) == ((1L, 0L)))
    // and the stream's verdict equals the batch scheduler on the union
    val batch = graft.llm.Urls
      .crawlSchedule(Seq(141L, 101L, 161L, 122L).map((_, "x")).toDF("doc_id", "text"))
      .collect()
      .map(r => r.getLong(0) -> ((r.getAs[Long]("slot"), r.getAs[Long]("fetch_at_ms"))))
      .toMap
    assert(got == batch, s"stream != batch: $got vs $batch")
  }

  test("retrieve_maxsim: a doc matching BOTH query aspects outranks one matching a single aspect") {
    import spark.implicits._
    // two 32-token "aspects" A and B (one chunk each at rcChunkTok=32)
    val A = (1 to 32).map(i => s"alpha$i").mkString(" ")
    val B = (1 to 32).map(i => s"beta$i").mkString(" ")
    val C = (1 to 32).map(i => s"noise$i").mkString(" ")
    val docs = Seq(
      (0L, s"$A $B"), // the query: chunks [A, B]
      (10L, s"$B $A"), // matches BOTH aspects (order-swapped)
      (11L, s"$A $C") // matches only aspect A
    ).toDF("doc_id", "text")
    val out = graft.llm.Dedup
      .retrieveMaxsim(docs)
      .collect()
      .map(r => r.getLong(1) -> ((r.getLong(2), r.getLong(3), r.getInt(4))))
      .toMap
    // hash embeddings are bags of tokens, so the swapped-order doc's
    // chunks match the query chunks exactly: maxsim = 2 x 1.0
    assert(out(10L)._2 == 2000000L, s"both-aspect doc: ${out(10L)}")
    assert(out(10L)._1 == 2L, "two query chunks must contribute")
    // the single-aspect doc scores ~1.0 + hash noise, strictly below
    assert(out(11L)._2 < 1700000L && out(11L)._2 > 500000L, s"single-aspect doc: ${out(11L)}")
    assert(out(10L)._3 == 1 && out(11L)._3 == 2, s"ranks: $out")
  }

  test("retrieve_rrf: both-leg docs outrank single-leg winners; missing legs rank 0") {
    import spark.implicits._
    // lexical corpus: equal doc length (10 tokens), tf(spark) 4/2/1 on
    // docs 9/3/5 -> lex ranks 1/2/3; everyone else scores 0 and drops
    val fill = "alpha beta gamma delta"
    val docs = Seq(
      (9L, s"spark spark spark spark aa bb $fill"),
      (3L, s"spark spark aa bb cc dd $fill"),
      (5L, s"spark aa bb cc dd ee $fill"),
      (109L, s"aa bb cc dd ee ff $fill"),
      (7L, s"gg hh ii jj kk ll $fill")
    ).toDF("doc_id", "text")
    // dense corpus: query = vec 0; cos(109)=1 > cos(3)~0.98 > cos(7)~0.71
    def v(parts: (Int, Float)*): Array[Float] = {
      val a = Array.fill(64)(0f); parts.foreach { case (i, x) => a(i) = x }; a
    }
    val emb = Seq(
      (0L, v(0 -> 1f), 0),
      (109L, v(0 -> 2f), 0),
      (3L, v(0 -> 1f, 1 -> 0.2f), 0),
      (7L, v(0 -> 1f, 1 -> 1f), 0)
    ).toDF("vec_id", "embedding", "label")
    val out = graft.llm.Similarity
      .retrieveRrf(docs, emb)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // doc 3 (rank 2 in BOTH legs) fuses above either leg's rank-1 doc:
    // 2*(1e9 div 62) = 32258064 > 1e9 div 61 = 16393442
    assert(out.map(_._1).toSeq == Seq(3L, 9L, 109L, 5L, 7L), s"got ${out.toSeq}")
    val byId = out.map(r => r._1 -> r).toMap
    assert(byId(3L) == ((3L, 2L, 2L, 32258064L)))
    assert(byId(9L) == ((9L, 1L, 0L, 16393442L)), "lex-only doc must report dense_rank 0")
    assert(byId(109L) == ((109L, 0L, 1L, 16393442L)), "dense-only doc must report lex_rank 0")
    assert(byId(5L) == ((5L, 3L, 0L, 15873015L)))
    assert(byId(7L) == ((7L, 0L, 3L, 15873015L)))
  }

  test("text_html_extract: each boilerplate rule drops its designed offender, content survives") {
    import spark.implicits._
    // stopword-rich content so the three <p> slices pass the 10%
    // stopword rule; doc_id 35 plants BOTH the link farm (%7) and the
    // copyright line (%5)
    val t = ("the cat is on a mat and it is fine for now with the dog " * 8).trim
    val docs = Seq((35L, t), (3L, t)).toDF("doc_id", "text")
    val out = graft.llm.Curation
      .htmlExtract(docs)
      .collect()
      .map(r => r.getLong(0) -> r)
      .toMap
    assert(out(35L).getString(1) == "Doc 35", "title extraction")
    // 8 split segments with both plants, 6 without (head, nav, 3 <p>, tail)
    assert(out(35L).getAs[Long]("n_blocks") == 8L)
    assert(out(3L).getAs[Long]("n_blocks") == 6L)
    // only the three content paragraphs survive — nav, head fragment,
    // farm and copyright all drop
    assert(out(35L).getAs[Long]("n_kept") == 3L)
    assert(out(3L).getAs[Long]("n_kept") == 3L)
    val txt = graft.llm.Curation
      .htmlExtractText(docs)
      .collect()
      .map(r => r.getLong(0) -> r.getString(2))
      .toMap
    // script/style stripped WITH contents; nav/farm/copyright dropped
    for (bad <- Seq("tracker", "color", "Home", "partner", "Copyright", "<"))
      assert(!txt(35L).contains(bad), s"boilerplate '$bad' leaked into extracted text")
    assert(txt(35L).contains("the cat is on a mat"), "content lost")
    // drop-rule isolation: the farm PASSES the stopword rule (planted
    // 'the/of/and' anchors) so its drop is attributable to link density
    // alone; the copyright line has no links and >= 3 words so its drop
    // is attributable to stopword density alone. Both absent above.

    // composition: the extracted text feeds the downstream quality
    // screen without schema friction
    val q = graft.llm.Curation
      .htmlExtractText(docs)
      .select(col("doc_id"), col("text"), graft.llm.Curation.qualityScore.as("quality"))
      .collect()
    assert(q.forall(r => !r.isNullAt(2)), "quality score over extracted text")

    // r14 robustness plant (doc_id % 11 = 0): a quoted '>' inside an
    // href must NOT leak attribute garbage into the text, and entities
    // decode AFTER the tag strip (so &lt;now&gt; stays literal)
    val docs11 = Seq((33L, t)).toDF("doc_id", "text")
    val t11 = graft.llm.Curation
      .htmlExtractText(docs11)
      .collect()
      .map(r => r.getLong(0) -> r.getString(2))
      .toMap
    assert(t11(33L).contains("see the deal for AT&T and the rest of it <now> is fine on a mat"),
      s"robust block lost or mis-decoded: ${t11(33L)}")
    assert(!t11(33L).contains("2\">") && !t11(33L).contains("href"),
      "quoted-'>' attribute leaked into extracted text")
    assert(!t11(33L).contains("&amp;") && !t11(33L).contains("&lt;"), "entities left undecoded")
  }
}

class IvfSpec extends org.scalatest.funsuite.AnyFunSuite {
  import TestSpark._

  test("IVF top-k recall vs brute force is high at nProbe=4/16") {
    val emb = graft.core.Tables.embeddings(spark, sf)
    val bf = graft.llm.Similarity.topk(emb).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = graft.llm.Similarity.ivfTopk(emb).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (bf & ivf).size.toDouble / bf.size
    assert(recall >= 0.6, s"recall $recall")
    // structural: at most topK per query, ranks dense from 1
    val byQ = graft.llm.Similarity.ivfTopk(emb).collect().groupBy(_.getLong(0))
    byQ.values.foreach { rows =>
      assert(rows.length <= 5)
      assert(rows.map(_.getInt(3)).sorted.sameElements(1 to rows.length))
    }
  }

  // probing every cell routes every (query, other vector) pair, so the
  // IVF router must reproduce brute force row for row — scores and
  // ranks, not just recall
  test("probing every cell equals brute force: ivfTopk ≡ topk, sq8TopkIvf ≡ sq8Topk") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val emb = (0 until 300)
      .map(i => (i.toLong, Seq.fill(64)(rnd.nextGaussian().toFloat), (i % 3).toLong))
      .toDF("vec_id", "embedding", "label")
    def rows(df: org.apache.spark.sql.DataFrame): Set[Seq[Any]] = df.collect().map(_.toSeq).toSet
    val Sim = graft.llm.Similarity
    val brute = rows(Sim.topk(emb))
    assert(brute.size == 50)
    assert(rows(Sim.ivfTopk(emb, nList = 16, nProbe = 16)) == brute)
    val sq8 = rows(Sim.sq8Topk(emb))
    assert(sq8.size == 50)
    assert(rows(Sim.sq8TopkIvf(emb, nList = 16, nProbe = 16)) == sq8)
  }
}

class SemDedupSpec extends org.scalatest.funsuite.AnyFunSuite {
  import TestSpark._

  test("semDedup drops planted within-cell near-dups, keeps the lowest id and distant vectors") {
    import spark.implicits._
    // 16 one-hot basis vectors are their own centroids (first-nList
    // convention); 16 and 17 are scaled copies of e5 (cos = 1 with
    // vec 5 exactly), 18 is e30-dominant with a small e7 component
    // (assigned to cell 7, cos ≈ 0.30 < tau — kept)
    def oneHot(i: Int, s: Float): Array[Float] = {
      val a = Array.fill(64)(0.0f); a(i) = s; a
    }
    val v18 = { val a = Array.fill(64)(0.0f); a(7) = 0.3f; a(30) = 0.95f; a }
    val rows = (0 until 16).map(i => (i.toLong, oneHot(i, 1.0f), 0)) ++
      Seq((16L, oneHot(5, 0.9f), 0), (17L, oneHot(5, 0.8f), 0), (18L, v18, 0))
    val emb = rows.toDF("vec_id", "embedding", "label")
    val out = graft.llm.Similarity
      .semDedup(emb)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2))))
      .toMap
    assert(out(16L) == ((5L, false)), s"16: ${out(16L)}")
    assert(out(17L) == ((5L, false)), s"17: ${out(17L)}")
    assert(out(5L) == ((5L, true)), s"5: ${out(5L)}")
    assert(out(18L) == ((7L, true)), s"18: ${out(18L)}")
    assert(out.values.count(!_._2) == 2, s"exactly the two planted dups drop: $out")
  }

  test("sampleWeighted: exact k per stratum, deterministic, and weight-proportional") {
    import spark.implicits._
    // source A: 40 unit-weight docs; source B: 10 docs (fewer than k);
    // doc 999 in A carries a 10^6x weight — under A-ES its key
    // ln(u)/w is ~10^6 closer to zero than any unit-weight doc's
    // (P(excluded) < 1e-5 per competitor), so it must be drawn
    val docs = ((1 to 40).map(i => (i.toLong, "A", 50L)) ++
      (101 to 110).map(i => (i.toLong, "B", 50L)) :+ (999L, "A", 50000000L))
      .toDF("doc_id", "source", "n_chars")
    val out = graft.llm.Curation.sampleWeighted(docs, k = 25).collect()
    val byteSrc = out.groupBy(_.getString(1)).view.mapValues(_.length).toMap
    assert(byteSrc == Map("A" -> 25, "B" -> 10), s"stratum counts: $byteSrc")
    assert(out.exists(_.getLong(0) == 999L), "heavy-weight doc not drawn")
    // ranks dense from 1; keys non-positive (u <= 1 so ln(u) <= 0)
    out.groupBy(_.getString(1)).values.foreach { rs =>
      assert(rs.map(_.getInt(4)).sorted.sameElements(1 to rs.length))
    }
    assert(out.forall(_.getLong(3) <= 0L))
    val again = graft.llm.Curation.sampleWeighted(docs, k = 25).collect()
    assert(out.map(_.toString).sorted.sameElements(again.map(_.toString).sorted), "nondeterministic draw")
  }
}
