package graft
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Throughput profiler at synthetic scale — the scale-up guard that the
  * marginal per-sample costs in BASELINE.md hold through orders of
  * magnitude (no hidden O(n²), no memory cliff).
  *
  * `PROF_N` sets samples per channel (×8 channels): 2M → 16M total
  * (160× sf0.1), 16M → 128M total (1600× sf0.1). `PROF_DOCS` > 0
  * additionally replicates the sf0.1 documents table that many times
  * (perturbed so content hashes differ) and runs the text/dedup
  * pipeline at 10× corpus scale. Per phase it reports wall time,
  * throughput, the max per-task peak execution memory and total spill —
  * the cliff detectors. Peak task memory is Spark-managed memory only:
  * the kernels that buffer in plain JVM arrays (see [[Harness.Run]],
  * `bandPairs` included) read 0 there.
  */
object Prof {
  def main(args: Array[String]): Unit = {
    // PROF_SHUFFLE: shuffle-partition override — the knob a 100 TB run
    // sizes first. Measured at the 100x-docs decade: 256 partitions did
    // NOT reduce the pair-phase spill (it is the data-sized external
    // sort of the true-positive pair stream, working as designed) and
    // added scheduling overhead on 32 cores — recorded in BASELINE.md.
    // Decade runs set SPARK_GRAFT_CPUS=32 for the 32-core session.
    val spark = Harness.session()
    sys.env.get("PROF_SHUFFLE").foreach(spark.conf.set("spark.sql.shuffle.partitions", _))
    spark.sparkContext.setLogLevel("ERROR")

    val nPerCh = sys.env.getOrElse("PROF_N", "2000000").toLong
    val nCh = 8
    // deterministic synthetic signal, generated distributed
    val sig = spark.range(nPerCh * nCh)
      .select(
        concat(lit("ch"), (col("id") % nCh)).as("channel"),
        (col("id") / nCh).cast("bigint").as("n"),
        (sin(col("id") / 7.0) * 10.0 + sin(col("id") / 1311.0) * 3.0).as("x")
      )
    sig.persist()
    val total = sig.count()
    // PROF_ONLY=sub1,sub2 runs only phases whose name contains a listed
    // substring — lets a 100x-docs run target the linear selection stack
    // without paying the clique-quadratic-by-design pair phases
    val only: Option[Set[String]] = sys.env.get("PROF_ONLY").map(_.split(",").toSet)
    def t(name: String, denom: Long = total)(f: => Long): Unit = if (only.forall(_.exists(name.contains))) {
      val (rows, run) = Harness.probe(spark)(f)
      val sec = run.seconds
      println(
        f"PROF $name%-22s ${sec}%7.2f s  ${denom / sec / 1e6}%8.2f Mrows/s  " +
          f"peakTaskMem=${run.peakTaskMem / (1 << 20)}%5d MiB  spill=${run.spill / (1 << 20)}%4d MiB  rows=$rows"
      )
    }
    // a DataFrame phase times the whole answer: its build plus a
    // noop-sink write of every column (rows counted in the same pass)
    def phase(name: String, denom: Long = total)(df: => DataFrame): Unit = t(name, denom)(Harness.written(df))
    // channel-partitioned, (channel, n)-sorted copy — what Signal.long
    // hands the gate queries; isolates kernel+codec from the exchange
    val sigSorted = core.ChannelScan.ordered(sig, presorted = false).persist()
    sigSorted.count()
    phase("warmup")(sig.limit(1000))
    val h75 = operators.HilbertOps.hilbertH
    phase("convPlus_75tap")(operators.FirOps.convPlus(sig, h75))
    // the 8-kernel Morlet bank (17–121 taps, re + im) as ONE convBank scan
    phase("cwt_bank")(operators.CwtOps.cwtMorlet(sigSorted, presorted = true))
    phase("sosfilt_butter")(operators.IirOps.sosfilt(sig, operators.IirOps.butterLp))
    phase("sosfilt_presorted")(
      operators.IirOps.sosfilt(sigSorted, operators.IirOps.butterLp, presorted = true)
    )
    phase("sosfiltfilt_presorted")(
      operators.IirOps.sosfiltfilt(sigSorted, operators.IirOps.butterLp, presorted = true)
    )
    phase("psd_welch_presorted")(
      operators.SpectraOps.psdWelch(sigSorted, presorted = true)
    )
    phase("polyResample_3_2")(operators.ResampleOps.polyResample(sig, 3, 2, operators.ResampleOps.hRes32))
    phase("psd_welch_fft")(operators.SpectraOps.psdWelch(sig))
    phase("stft64_fft")(operators.SpectraOps.stft(sig))
    phase("hilbert_env")(operators.HilbertOps.hilbertEnv(sig))
    // 257-tap Morlet quadrature pair through ONE segment assembly +
    // two SegConv FFT convolutions — the >128-tap CWT routing
    phase("cwt_long257")(operators.CwtOps.cwtMorletLong(sig))
    // the signal cut along n into 8 recordings of 8 channels, through the
    // distributed EDF sink (one file per recording)
    t("edf_write") {
      val spr = 100
      val per = nPerCh / 8 / spr * spr
      sources.Edf.writeSpark(
        sig
          .filter(col("n") < per * 8)
          .select(
            concat(lit("rec"), (col("n") / per).cast("bigint")).as("recording"),
            col("channel"),
            (col("n") % per).as("n"),
            col("x")
          ),
        sources.Scratch.dir("prof_edf"),
        fs = 100.0,
        samplesPerRecord = spr
      )
      per * 8 * nCh
    }
    // PROF_ICA=1: FastICA fit over the 8-channel signal — one transpose
    // shuffle + one tiny aggregate per fixed-point iteration (4
    // components, capped iterations). The per-iteration scan is the
    // cost driver; state back to the driver is c+1 doubles.
    if (sys.env.getOrElse("PROF_ICA", "0") == "1") {
      t("ica_fit4")(
        operators.IcaOps.fastIca(sig, nComp = 4, maxIter = 12).unmix.length.toLong
      )
    }

    val docsX = sys.env.getOrElse("PROF_DOCS", "0").toInt
    if (docsX > 0) {
      val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
      val base = graft.core.Tables
        .documents(spark, sfDir)
        .select(col("doc_id"), col("text"), col("lang"), col("source"))
      // replicas get disjoint ids and perturbed text (distinct content
      // hashes) so dedup work scales with the corpus, not degenerate
      // all-duplicates
      val docs = (0 until docsX)
        .map(i =>
          base.select(
            (col("doc_id") + lit(i * 10000000L)).as("doc_id"),
            concat(col("text"), lit(s" replica$i")).as("text"),
            col("lang"),
            col("source")
          )
        )
        .reduce(_ union _)
        .persist()
      val nDocs = docs.count()
      println(s"PROF docs corpus x$docsX = $nDocs docs")
      phase(s"docs${docsX}_exact", nDocs)(
        docs.groupBy(md5(col("text")).as("h")).agg(count(lit(1)))
      )
      phase(s"docs${docsX}_quality", nDocs)(llm.Curation.curate(docs))
      phase(s"docs${docsX}_minhash_lsh", nDocs)(llm.Dedup.minhashCandidates(docs))
      // bandPairs holds one bucket's docs at a time: its largest bucket
      // bounds that task's memory outside Spark's manager
      if (only.forall(_.exists(s"docs${docsX}_minhash_lsh".contains))) {
        val big = llm.Dedup.bandedSignatures(docs).groupBy(col("band"), col("bh")).count().agg(max(col("count"))).head()
        println(s"PROF docs${docsX}_minhash_lsh largest bucket ${big.get(0)} docs")
      }
      phase(s"docs${docsX}_simhash_pairs", nDocs)(llm.Dedup.simhashPairs(docs))
      phase(s"docs${docsX}_components", nDocs) {
        llm.Dedup.components(docs.select(col("doc_id")), llm.Dedup.simhashPairs(docs))
      }
      // round-7 selection stack: all must stay row-local/one-shuffle
      phase(s"docs${docsX}_gopher", nDocs)(llm.TextStats.gopher(docs))
      phase(s"docs${docsX}_c4_clean", nDocs)(llm.Curation.c4Clean(docs))
      phase(s"docs${docsX}_dsir", nDocs)(llm.Dsir.weights(docs))
      phase(s"docs${docsX}_langid_ngram", nDocs)(llm.TextStats.langidNgram(docs))
      phase(s"docs${docsX}_tokens_bpe", nDocs)(llm.Bpe.tokensBpe(docs))
      // r16 mixture-optimizer decade: the unigram-LM shape (token
      // explode + tf join) plus source-row arithmetic — must track
      // text_unigram_lp's cost, never the corpus
      phase(s"docs${docsX}_mix_doremi", nDocs)(
        llm.Curation.mixDoremi(docs).filter(col("mix_weight") >= 0)
      )
      // r17: weights -> loader order — adds one per-source rank window
      // over the corpus + a 240-row schedule join on top of the chain
      phase(s"docs${docsX}_mix_schedule", nDocs)(
        llm.Curation.mixSchedule(docs).filter(col("ord") >= 0)
      )
      // round-8 additions: incremental screen (store build + batch
      // screen) and header-directed video frame stats
      phase(s"docs${docsX}_bloom_screen", nDocs)(llm.Sketches.bloomScreen(docs))
      phase(s"docs${docsX}_sketch_hll", nDocs)(llm.Sketches.hllDistinct(docs))
      phase(s"docs${docsX}_corpus_profile", nDocs)(llm.Sketches.corpusProfile(docs))
      // the SCALE banding (64 planes, 4x16-bit bands): the gate's
      // 4x6-bit config is sized for the 500-doc gate corpus — at 50k+
      // docs its 2^-6 per-band background collision rate admits tens of
      // millions of false candidates (measured: ~78M pairs, 30+ GB of
      // spill), exactly the widen-with-log(n) rule the scaladoc states
      phase(s"docs${docsX}_hash_embed_dup", nDocs)(
        llm.Dedup.hashEmbedDupes(docs, 0.8, 64, 64, 4)
      )
      phase(s"docs${docsX}_incremental", nDocs)(llm.Dedup.incrementalDedup(docs))
      phase(s"docs${docsX}_video_frames", nDocs)(
        llm.Multimodal.videoFrames(llm.Multimodal.videoMediaFromIds(docs))
      )
      phase(s"docs${docsX}_bpe_segments", nDocs)(llm.Bpe.segmentsBpe(docs))
      // round-10 additions: shift-robust CDC chunking, winnowing
      // fingerprints, and the full chunk→embed→retrieve composition
      phase(s"docs${docsX}_chunks_cdc", nDocs)(llm.TextStats.chunksCdc(docs))
      phase(s"docs${docsX}_winnow", nDocs)(llm.TextStats.winnow(docs))
      // the df-cap rule under the replica cliques: every original's fps
      // are shared by its docsX−1 siblings (true positives), so the cap
      // must WIDEN with the replica factor — 5·docsX keeps the 10×
      // behavior identical (cap 50 = the gate default) and de-vacuates
      // 100× (df ≈ 100 was silently capped out by the fixed 50; r16)
      phase(s"docs${docsX}_winnow_overlap", nDocs)(
        llm.TextStats.winnowOverlap(docs, maxDf = 5 * docsX)
      )
      // top-k report form: the s-cap bounds per-doc incidence and the
      // capped-fp-set class collapse removes exact-replica cliques; the
      // perturbed-replica residue stays clique-quadratic by design
      phase(s"docs${docsX}_winnow_topk", nDocs)(
        llm.TextStats.winnowTopk(docs, maxDf = 5 * docsX)
      )
      // scale banding (16 planes, 2×8-bit): the gate's 2×4-bit config is
      // sized for the 500-doc corpus; background candidates per query
      // grow ~nBands·nChunks·2^-width (the hePlanes widen rule)
      phase(s"docs${docsX}_retrieve_chunks", nDocs)(
        llm.Dedup.retrieveChunks(docs, nPlanes = 16, nBands = 2)
      )
      // r15: late-interaction MaxSim at the same scale banding — the
      // collision cap keeps stage 2 candidate-bounded, so the decade
      // pins that the full chunk-grid stage never goes corpus-sized
      phase(s"docs${docsX}_retrieve_maxsim", nDocs)(
        llm.Dedup.retrieveMaxsim(docs, nPlanes = 16, nBands = 2)
      )
      phase(s"docs${docsX}_sketch_cms", nDocs)(llm.Sketches.cmsTopTokens(docs))
      phase(s"docs${docsX}_corpus_shard", nDocs)(llm.Curation.corpusShard(docs))
      // replicas of a >264-char doc share their clip prefix → hamming-0
      // cliques of size docsX; pair volume is clique-quadratic BY DESIGN
      // (every pair of a duplicate group IS a true positive)
      phase(s"docs${docsX}_wav_fp_pairs", nDocs)(
        llm.Multimodal.wavFpPairs(llm.Multimodal.wavMediaFromDocs(docs))
      )
      // round-11 additions: URL curation (row-local canon + ONE
      // canon-keyed min window), chunk-level exact dedup (one
      // chunk_md5-keyed ranking off the CDC chunker), and exact
      // long-run extraction — replicas differ only in their appended
      // suffix, so every ≥runLen-token original body is a TRUE
      // multi-doc shared run group at every decade (run groups of
      // size docsX, never all-pairs: the gram aggregate is keyed)
      phase(s"docs${docsX}_curate_url", nDocs)(llm.Urls.curateUrl(docs))
      // r17: redirect-chain resolution at the decade — 4 doubling
      // joins over the canon-keyed frame; the status filter forces the
      // join chain (the bare-count join-elimination trap)
      phase(s"docs${docsX}_crawl_redirects", nDocs)(
        llm.Urls
          .resolveRedirects(
            docs.select(
              col("doc_id"),
              expr(llm.Urls.redirectUrlExpr).as("url"),
              expr(llm.Urls.redirectLocExpr).as("location")
            )
          )
          .filter(col("status") === "ok")
      )
      // r17: the export capstone at the decade — keep-set window + BPE
      // count + ONE shard-keyed aggregation (manifest = 16 rows)
      t(s"docs${docsX}_export_manifest", nDocs)(
        llm.Curation.exportManifest(docs).agg(sum(col("n_tokens"))).collect()(0).getLong(0)
      )
      // r17: PHYSICAL export + loader-side verification — shard files
      // really written, manifest recomputed from the files alone; the
      // ok filter forces the full-outer compare
      phase(s"docs${docsX}_export_verify", nDocs) {
        val out = graft.sources.Scratch.dir("prof_export_verify")
        val ed = docs.select(col("doc_id"), col("text"))
        val merges = llm.Bpe.gateMerges(ed)
        val m = llm.Curation.exportShards(ed, out, merges).localCheckpoint()
        llm.Curation.exportVerify(spark, out, m, merges).filter(col("ok"))
      }
      // r17: incremental re-export — two manifest chains + a 16-row
      // join; the dirty filter forces both sides
      phase(s"docs${docsX}_export_manifest_inc", nDocs)(
        llm.Curation
          .exportManifestInc(docs.filter(col("doc_id") % 1000 =!= 7), docs)
          .filter(col("dirty"))
      )
      phase(s"docs${docsX}_dedup_chunks", nDocs)(llm.Dedup.dedupChunks(docs))
      phase(s"docs${docsX}_dedup_runs", nDocs)(llm.Dedup.sharedRuns(docs))
      // round-12 additions: line-level dedup (replicas share every
      // 8-token body line with their siblings EXCEPT the one carrying
      // the replica suffix → line-hash groups of size docsX, keyed,
      // never pairwise) and the row-local script histogram
      phase(s"docs${docsX}_dedup_lines", nDocs)(llm.Dedup.dedupLines(docs))
      phase(s"docs${docsX}_text_scripts", nDocs)(llm.TextStats.textScripts(docs))
      // round-12 second wave: char-level gear CDC (48-term lag-sum per
      // char — the priciest row-local family, ~2048 chars × 48 lags),
      // KN bigram scoring (four keyed aggs + joins back), and the
      // composed per-source dedup report / datasheet card
      phase(s"docs${docsX}_chunks_gear", nDocs)(llm.TextStats.chunksGear(docs))
      phase(s"docs${docsX}_bigram_kn", nDocs)(llm.TextStats.bigramKn(docs))
      phase(s"docs${docsX}_dedup_report", nDocs)(llm.Dedup.dedupReport(docs))
      phase(s"docs${docsX}_corpus_card", nDocs)(llm.Curation.corpusCard(docs))
      // round-12 third wave: RAKE keywords (two doc-keyed windows + one
      // vocab agg), A-ES weighted sampling (row-local key + one
      // source-keyed top-k window), PageRank (8 edge-join+agg rounds on
      // a 20-node host graph — iteration scheduling, not data, is the
      // cost), and soft-dedup weights off the components pass
      phase(s"docs${docsX}_text_rake", nDocs)(llm.TextStats.textRake(docs))
      phase(s"docs${docsX}_sample_weighted", nDocs)(
        llm.Curation
          .sampleWeighted(docs.withColumn("n_chars", length(col("text")).cast("long")))
      )
      phase(s"docs${docsX}_pagerank", nDocs)(llm.Urls.hostPagerank(docs))
      phase(s"docs${docsX}_dedup_weights", nDocs)(llm.Dedup.softDedupWeights(docs))
      // unigram-LM EM fit: corpus-sized work is the ONE word-count agg;
      // each round is a pass over the distinct-word frame vs the
      // broadcast vocab. Gate config first (the oracle-replayable
      // shape), then the REALISTIC config — 1000-piece target, 4000-
      // candidate seed, over the corpus's full distinct-word frame
      // (reported) — the contract: per-round shuffle stays vocab-sized
      // and the driver only ever holds the vocab
      t(s"docs${docsX}_unigram_fit", nDocs)(
        llm.Unigram.fit(docs).pieces.size.toLong
      )
      if (only.forall(_.exists("unigram_fit_v1000".contains))) {
        val wordVocab = docs
          .select(explode(split(col("text"), " ")).as("w"))
          .filter(col("w") =!= "" && length(col("w")) <= 12)
          .select(countDistinct(col("w")))
          .collect()(0)
          .getLong(0)
        println(s"PROF unigram word vocab = $wordVocab distinct words")
      }
      t(s"docs${docsX}_unigram_fit_v1000", nDocs)(
        llm.Unigram.fit(docs, vocabSize = 1000, maxPieceLen = 4, rounds = 4).pieces.size.toLong
      )
      // REALISTIC-VOCABULARY decade: the sf corpus has a toy word
      // vocabulary (41 distinct), so synthesize a syllabic corpus with
      // ~10⁵ distinct words (50³ 3-syllable forms under a skewed rank —
      // real subword structure for the EM to learn) and fit the
      // 1000-piece target. Contract under test: the distinct-word
      // frame stays distributed, per-round shuffle is vocab-sized, and
      // the driver holds only the (≤4×1000 + charset) vocab.
      // (corpus build gated like its phase — a PROF_ONLY run filtered
      // to other phases must not pay the 10M-token synthesis)
      if (only.forall(_.exists("unigram_fit_100kvocab_v1000".contains))) {
        val syl = Array(
          "ba", "be", "bi", "bo", "bu", "da", "de", "di", "do", "du",
          "ka", "ke", "ki", "ko", "ku", "la", "le", "li", "lo", "lu",
          "ma", "me", "mi", "mo", "mu", "na", "ne", "ni", "no", "nu",
          "pa", "pe", "pi", "po", "pu", "ra", "re", "ri", "ro", "ru",
          "sa", "se", "si", "so", "su", "ta", "te", "ti", "to", "tu"
        )
        val sylCol = array(syl.map(lit).toIndexedSeq: _*)
        def s3(r: org.apache.spark.sql.Column, div: Long) =
          element_at(sylCol, (pmod(r / div, lit(50L)) + 1).cast("int"))
        val nTok = 10000000L
        val docsV = spark
          .range(nTok)
          .select(
            (col("id") / 200L).cast("long").as("doc_id"),
            least(
              pmod(col("id") * 2654435761L, lit(100000L)),
              pmod(col("id") * 40503L + 17L, lit(100000L))
            ).as("r")
          )
          .select(col("doc_id"), concat(s3(col("r"), 1L), s3(col("r"), 50L), s3(col("r"), 2500L)).as("w"))
          .groupBy(col("doc_id"))
          .agg(concat_ws(" ", collect_list(col("w"))).as("text"))
          .persist()
        val nV = docsV.count()
        val wv = docsV
          .select(explode(split(col("text"), " ")).as("w"))
          .select(countDistinct(col("w")))
          .collect()(0)
          .getLong(0)
        println(s"PROF unigram 100k-vocab corpus: $nV docs, $wv distinct words, $nTok tokens")
        t("unigram_fit_100kvocab_v1000", nTok)(
          llm.Unigram.fit(docsV, vocabSize = 1000, maxPieceLen = 4, rounds = 4).pieces.size.toLong
        )
        docsV.unpersist()
        ()
      }
      // threshold curve rides the pairs pass; PMI is the vocab²-keyed
      // windowed-pair aggregation (the priciest text join family —
      // pair volume ~ 2·tokens)
      phase(s"docs${docsX}_threshold_curve", nDocs)(llm.Dedup.thresholdCurve(docs))
      // r13: containment rides the same banded candidates + row-local
      // shingle sets as jaccard — decade cost should track it
      phase(s"docs${docsX}_containment", nDocs)(llm.Dedup.containment(docs))
      phase(s"docs${docsX}_text_pmi", nDocs)(llm.TextStats.textPmi(docs))
      docs.unpersist()
      ()
    }

    // PROF_EMB=k: k-thousand synthetic 64-dim vectors through the PCA
    // covariance + power chain (cov cost is rows×d² — the only part
    // that scales with the corpus; the iteration runs on d² rows)
    val embK = sys.env.getOrElse("PROF_EMB", "0").toInt
    if (embK > 0) {
      val emb = spark
        .range(embK * 1000L)
        .select(
          col("id").as("vec_id"),
          transform(sequence(lit(1), lit(64)), j => sin(col("id") * 0.37 + j.cast("double"))).as("embedding")
        )
        .withColumn("label", lit(0))
      phase(s"emb${embK}k_pca", embK * 1000L)(llm.Similarity.pcaTop(spark, emb))
      // r12: cell-scoped families at the decade. Candidate volume is
      // Σ|cell|², so nList MUST widen with n (the gate pins the
      // oracle-replayable 16; 16 cells at 100k vectors on this smooth
      // sin-curve corpus skewed one cell huge and the knn rank window
      // shuffled 21 GiB — measured r12, fixed by the map-side top-k
      // prune + this 128-cell scale config). The semdedup count
      // filters on the verdict column — a bare count() lets Catalyst
      // ELIMINATE the cardinality-preserving left join and skip the
      // pair scoring entirely (measured: 1.5 s "decade" that computed
      // nothing).
      phase(s"emb${embK}k_semdedup", embK * 1000L)(
        llm.Similarity.semDedup(emb, nList = 128).filter(!col("kept"))
      )
      phase(s"emb${embK}k_knn_graph", embK * 1000L)(
        llm.Similarity.knnGraph(emb, nList = 128)
      )
      // r14: the graph-walk consumer end-to-end (edge build + beam
      // walk + re-rank) at the scale config — budget per query is
      // seeds + rounds·beam·k, independent of |cell|
      phase(s"emb${embK}k_graph_serve", embK * 1000L)(
        llm.Similarity.graphServe(emb, nList = 128, k = 8, beam = 16, rounds = 3)
      )
      phase(s"emb${embK}k_communities", embK * 1000L)(
        llm.Similarity.lpCommunities(emb, nList = 128)
      )
      // deflation reuses the ONE collected covariance; extra components
      // cost only driver iterate time — wall should track pcaTop
      phase(s"emb${embK}k_pca_k", embK * 1000L)(llm.Similarity.pcaTopK(spark, emb))
      phase(s"emb${embK}k_whiten", embK * 1000L)(llm.Similarity.pcaWhiten(spark, emb))
      // trained IVF+PQ end-to-end at the decade: a deterministic
      // 64-cluster corpus (sin-hashed latent center + hash-DECORRELATED
      // noise — a smooth sin(id·phase) noise term makes same-cluster
      // members near-duplicates with sub-round6 margins, and no ANN
      // config can then recover the exact top-5), kmeans|| cells +
      // Lloyd residual codebooks + PQ-shortlist refine, recall@5
      // scored against the exact cosine baseline
      val nLatent = 64
      val clustered = spark
        .range(embK * 1000L)
        .select(
          col("id").as("vec_id"),
          transform(
            sequence(lit(1), lit(64)),
            j =>
              sin((col("id") % nLatent).cast("double") * 7.3 + j.cast("double") * 1.7) +
                lit(0.15) * sin(
                  ((col("id") * 1315423911L + j.cast("long") * 2654435761L) % 104729L)
                    .cast("double") * 0.013
                )
          ).as("embedding")
        )
        .withColumn("label", lit(0))
        .persist()
      clustered.count()
      var cents: Array[Array[Double]] = null
      t(s"emb${embK}k_kmeans_train", embK * 1000L) {
        cents = llm.Similarity.kmeansParallel(clustered, k = nLatent)
        cents.length.toLong
      }
      var served: Set[(Long, Long)] = Set.empty
      t(s"emb${embK}k_ivfpq_trained", embK * 1000L) {
        val rows = llm.Similarity
          .ivfPqTopkTrained(clustered, cents, nProbe = 8)
          .select(col("qid"), col("vid"))
          .collect()
        served = rows.map(r => (r.getLong(0), r.getLong(1))).toSet
        rows.length.toLong
      }
      // PROF_ONLY guard: when the trained phases were filtered out,
      // cents is null / served empty — skip the recall + IO sections
      // instead of reporting a bogus 0.000 (measured r12: a filtered
      // run crashed on the unguarded ivfAssign)
      if (cents != null && served.nonEmpty) {
      val truth = llm.Similarity
        .topk(clustered)
        .select(col("qid"), col("vid"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1)))
        .toSet
      val recall = (truth & served).size.toDouble / truth.size
      println(f"PROF emb${embK}k_ivfpq_recall@5 = $recall%.3f (vs exact cosine top-5, 10 queries)")
      // r14: the TRAINED graph-walk serving path. NOT on `clustered` —
      // its sub-round6 within-cluster margins make the exact top-5 a
      // vid-tie LOTTERY among ~1500 rounded ties, which an exhaustive
      // cell scan (IVF) wins by construction and ANY bounded-subset
      // visitor loses (measured 0.14 before this was understood — the
      // metric was measuring tie order, not retrieval). The walk's
      // decade corpus therefore carries REAL margins: the same latent
      // sin centers with a 0.6-amplitude hash-decorrelated noise term,
      // where nearest neighbors separate far above 1e-6.
      val navigable = spark
        .range(embK * 1000L)
        .select(
          col("id").as("vec_id"),
          transform(
            sequence(lit(1), lit(64)),
            j =>
              sin((col("id") % nLatent).cast("double") * 7.3 + j.cast("double") * 1.7) +
                lit(0.6) * sin(
                  ((col("id") * 2246822519L + j.cast("long") * 3266489917L) % 104729L)
                    .cast("double") * 0.017
                )
          ).as("embedding")
        )
        .withColumn("label", lit(0))
        .persist()
      navigable.count()
      // widen the cell count so cells stay WALKABLE (~200 members —
      // the nList-widens-with-corpus rule applied to graph serving:
      // at 64 cells/1562 members the in-cell 8-NN graph navigates
      // poorly in 64 dims — recall 0.52/0.64 at beam 32; see
      // BASELINE.md r14 for the measured boundary)
      val navCells = math.max(nLatent, (embK * 1000) / 200)
      var cents2: Array[Array[Double]] = null
      t(s"emb${embK}k_kmeans_nav", embK * 1000L) {
        cents2 = llm.Similarity.kmeansParallel(navigable, k = navCells)
        cents2.length.toLong
      }
      var walkPairs: Set[(Long, Long)] = Set.empty
      t(s"emb${embK}k_graph_serve_tr", embK * 1000L) {
        val rows2 = llm.Similarity
          .graphServeTrained(navigable, cents2, k = 8, beam = 16, rounds = 4)
          .select(col("qid"), col("vid"))
          .collect()
        walkPairs = rows2.map(r => (r.getLong(0), r.getLong(1))).toSet
        rows2.length.toLong
      }
      val truthNav = llm.Similarity
        .topk(navigable)
        .select(col("qid"), col("vid"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1)))
        .toSet
      val ivfNav = llm.Similarity
        .ivfTopk(navigable, navCells, 8, Some(cents2))
        .select(col("qid"), col("vid"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1)))
        .toSet
      val walkRecall = (truthNav & walkPairs).size.toDouble / truthNav.size
      val ivfNavRecall = (truthNav & ivfNav).size.toDouble / truthNav.size
      println(
        f"PROF emb${embK}k_graph_serve_tr_recall@5 = $walkRecall%.3f (trained IVF nProbe=8: $ivfNavRecall%.3f)"
      )
      // PROF_FATCELL: the r15 in-cell hierarchy at the r14 measured
      // boundary — 64 FAT cells (~embK·1000/64 members each; flat
      // walk recall 0.52–0.64 there, BASELINE.md r14). The hierarchy
      // (md5 pivot draw, up/down links, per-cell pivot CLIQUE) must
      // lift recall at a budget under IVF nProbe=1's cell scan.
      if (sys.env.contains("PROF_FATCELL")) {
        var centsF: Array[Array[Double]] = null
        t(s"emb${embK}k_kmeans_fat64", embK * 1000L) {
          centsF = llm.Similarity.kmeansParallel(navigable, k = 64)
          centsF.length.toLong
        }
        // PROF_FATSWEEP=rounds:beam:kDown[,rounds:beam:kDown…]
        // (default one config) — all configs share the trained
        // centroids and the truth set, so a sweep costs one walk each
        val fatCfgs = sys.env
          .getOrElse("PROF_FATSWEEP", "8:8:8")
          .split(",")
          .map { s => val a = s.split(":"); (a(0).toInt, a(1).toInt, a(2).toInt) }
        val ivfFat = llm.Similarity
          .ivfTopk(navigable, 64, 1, Some(centsF))
          .select(col("qid"), col("vid"))
          .collect()
          .map(r => (r.getLong(0), r.getLong(1)))
          .toSet
        val ivfFatRecall = (truthNav & ivfFat).size.toDouble / truthNav.size
        val ivfFatBudget = llm.Similarity.ivfCandidates(navigable, 64, 1, Some(centsF)).count()
        // PROF_FATSQ8=1: rank the walk from the SQ8 code tier (the
        // full trained + hierarchy + quantized production stack)
        val fatSq8 = sys.env.getOrElse("PROF_FATSQ8", "0") == "1"
        for ((fatRounds, fatBeam, fatKd) <- fatCfgs) {
          var fatPairs: Set[(Long, Long)] = Set.empty
          val tag = if (fatSq8) "_sq8" else ""
          t(s"emb${embK}k_graph_hier_fat${tag}_r${fatRounds}b${fatBeam}d$fatKd", embK * 1000L) {
            val rows3 = llm.Similarity
              .graphServeTrained(
                navigable,
                centsF,
                k = 8,
                beam = fatBeam,
                rounds = fatRounds,
                hier = true,
                kDown = fatKd,
                sq8 = fatSq8
              )
              .select(col("qid"), col("vid"))
              .collect()
            fatPairs = rows3.map(r => (r.getLong(0), r.getLong(1))).toSet
            rows3.length.toLong
          }
          val fatRecall = (truthNav & fatPairs).size.toDouble / truthNav.size
          val fatBudget = llm.Similarity
            .trainedWalkVisited(
              navigable, centsF, 8, fatBeam, fatRounds, 10, 1,
              hier = true, kDown = fatKd, sq8 = fatSq8)
            .count()
          println(
            f"PROF emb${embK}k_graph_hier_fat$tag r$fatRounds/b$fatBeam/d$fatKd recall@5 = $fatRecall%.3f " +
              f"(budget $fatBudget) vs IVF nProbe=1 $ivfFatRecall%.3f (budget $ivfFatBudget)"
          )
        }
      }
      navigable.unpersist()
      // the serving-tier I/O claim, measured: raw-float layout vs
      // packed-codes store bytes for the SAME corpus + assignment
      val cellsA = llm.Similarity.ivfAssign(clustered, cents)
      // Scratch.dir: emptied on re-acquisition, deleted at JVM exit —
      // repeated profiling runs must not accumulate ~53 MB of parquet
      val base = graft.sources.Scratch.dir("prof_store")
      cellsA
        .select(col("vec_id"), col("v").as("embedding"), col("cid"))
        .write.partitionBy("cid").mode("overwrite").parquet(s"$base/raw")
      val cbP = llm.Similarity.pqTrainV(
        cellsA.select(col("vec_id"), col("v")),
        llm.Similarity.pqCodebooks(clustered),
        iters = 1
      )
      llm.Similarity
        .pqEncodePacked(cellsA.select(col("vec_id"), col("v")), cbP)
        .join(cellsA.select(col("vec_id"), col("cid")), Seq("vec_id"))
        .write.partitionBy("cid").mode("overwrite").parquet(s"$base/codes")
      def dirBytes(p: String): Long = {
        val f = new java.io.File(p)
        if (f.isFile) f.length()
        else Option(f.listFiles()).getOrElse(Array.empty).map(x => dirBytes(x.getPath)).sum
      }
      // SQ8 sits between raw and PQ in the serving-bytes lattice
      llm.Similarity
        .sq8Encode(cellsA.select(col("vec_id"), col("v")))
        .join(cellsA.select(col("vec_id"), col("cid")), Seq("vec_id"))
        .write.partitionBy("cid").mode("overwrite").parquet(s"$base/sq8")
      val rawB = dirBytes(s"$base/raw"); val codeB = dirBytes(s"$base/codes")
      val sq8B = dirBytes(s"$base/sq8")
      println(
        f"PROF emb${embK}k_store_bytes raw=${rawB / 1024}%d KiB sq8=${sq8B / 1024}%d KiB " +
          f"codes=${codeB / 1024}%d KiB pq_ratio=${rawB.toDouble / codeB}%.1fx sq8_ratio=${rawB.toDouble / sq8B}%.1fx"
      )
      }
      clustered.unpersist()
      ()
    }

    // PROF_ANN=k: centroid-drift RETRAIN decade — k-thousand base
    // vectors plus k-thousand SHIFTED vectors (different phase +
    // offset: a region the base centroids never saw) assigned under
    // the base-trained centroids = the stale-index state after
    // sustained drifted ingest. Measures recall@10 for SHIFTED queries
    // before vs after annRetrain (refit on a 5% sample, delta rewrite).
    val annK = sys.env.getOrElse("PROF_ANN", "0").toInt
    if (annK > 0) {
      val n = annK * 1000L
      def gen(idBase: Long, phase: Double, off: Double) = spark
        .range(n)
        .select(
          (col("id") + idBase).as("vec_id"),
          transform(
            sequence(lit(1), lit(64)),
            j =>
              sin((col("id") % 64).cast("double") * 7.3 + j.cast("double") * (1.7 + phase)) +
                lit(off) +
                lit(0.15) * sin(
                  ((col("id") * 1315423911L + j.cast("long") * 2654435761L) % 104729L)
                    .cast("double") * 0.013
                )
          ).as("embedding"),
          lit(0).as("label")
        )
      val baseC = gen(0L, 0.0, 0.0).persist()
      val shifted = gen(n, 0.9, 0.8).persist()
      baseC.count(); shifted.count()
      var cents0: Array[Array[Double]] = null
      t(s"ann${annK}k_train_base", n) {
        cents0 = llm.Similarity.kmeansParallel(baseC, k = 64)
        cents0.length.toLong
      }
      val store = graft.sources.Scratch.dir("prof_ann_drift") + "/cells"
      llm.Similarity
        .ivfAssign(baseC.unionByName(shifted), cents0)
        .write.partitionBy("cid").mode("overwrite").parquet(store)
      val qs = shifted
        .filter(col("vec_id") < n + 30L)
        .select(col("vec_id").as("qid"), transform(col("embedding"), x => x.cast("double")).as("qv"))
        .localCheckpoint()
      // recall@10 at nProbe=4 AND the operational drift cost: candidate
      // rows per query (probed-cell population) + max cell size — a
      // stale layout folds the whole shifted region into few giant
      // cells, so even when probes still FIND the neighbors (recall
      // holds) every query pays a corpus-fraction scan
      def measure(cents: Array[Array[Double]]): (Double, Long, Long) = {
        import org.apache.spark.sql.expressions.Window
        val cells = spark.read
          .parquet(store)
          .select(col("cid").cast("long").as("cid"), col("vec_id").as("vid"), col("v").as("vb"))
          .withColumn("nb", sqrt(graft.functions.exprs.dot_d(col("vb"), col("vb"))))
        val dists = array(cents.zipWithIndex.map { case (c, i) =>
          struct(
            graft.functions.exprs.sq_dist(col("qv"), typedLit(c.toSeq)).as("d2"),
            lit(i.toLong).as("cid")
          )
        }.toIndexedSeq: _*)
        val probed = qs
          .select(col("qid"), col("qv"), explode(slice(array_sort(dists), 1, 4)).as("p"))
          .select(col("qid"), col("qv"), col("p").getField("cid").as("cid"))
        val wr = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("vid").asc)
        def top10(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] = df
          .filter(col("qid") =!= col("vid"))
          .select(
            col("qid"),
            col("vid"),
            (graft.functions.exprs.dot_d(col("qv"), col("vb")) /
              (sqrt(graft.functions.exprs.dot_d(col("qv"), col("qv"))) * col("nb"))).as("cos")
          )
          .withColumn("rk", row_number().over(wr))
          .filter(col("rk") <= 10)
          .select(col("qid"), col("vid"))
          .collect()
          .map(r => (r.getLong(0), r.getLong(1)))
          .toSet
        val candPerQ = probed
          .join(cells.select(col("cid")), Seq("cid"))
          .count() / 30L
        val maxCell = cells.groupBy(col("cid")).count().agg(max(col("count"))).collect()(0).getLong(0)
        val ivf = top10(probed.join(cells, Seq("cid")))
        val bf = top10(cells.crossJoin(broadcast(qs)))
        ((ivf & bf).size.toDouble / bf.size, candPerQ, maxCell)
      }
      val (before, candB, maxB) = measure(cents0)
      var centsNew: Array[Array[Double]] = null
      var touchedN = 0
      t(s"ann${annK}k_retrain", 2 * n) {
        val (c2, touched) = llm.Similarity.annRetrain(spark, store, sampleFrac = 0.05, k = 64)
        centsNew = c2
        touchedN = touched.size
        touched.size.toLong
      }
      val (after, candA, maxA) = measure(centsNew)
      println(
        f"PROF ann${annK}k_drift recall@10 shifted-queries before=$before%.3f after=$after%.3f " +
          f"candPerQuery before=$candB after=$candA maxCell before=$maxB after=$maxA touchedCells=$touchedN"
      )
      baseC.unpersist(); shifted.unpersist()
      ()
    }

    // PROF_TRI=k: triangle counting at k-thousand edges over a SKEWED
    // host graph (min-of-two-uniforms degree skew — hubs exist, the
    // power-law shape that breaks naive wedge joins): measures the
    // degree-ordered-orientation contract — wedge fanout bounded by
    // the max ORIENTED out-degree, so the candidate volume stays
    // ~O(m^1.5) worst-case instead of Σ hub-degree² (the unoriented
    // form on the same graph would pair every hub neighbor set).
    val triK = sys.env.getOrElse("PROF_TRI", "0").toInt
    if (triK > 0) {
      val m = triK * 1000L
      val nHosts = 100000L
      // murmur3 mixing (an affine map mod n has period n — the first
      // attempt produced 1e5 distinct edges from 1e6 draws); least-of-
      // two-uniforms skews degrees so hubs exist
      def h(seed: Int) = pmod(hash(col("id"), lit(seed)).cast("long"), lit(nHosts))
      val edges = spark
        .range(m)
        .select(
          least(h(1), h(2)).as("u0"),
          least(h(3), h(4)).as("v0")
        )
        .filter(col("u0") =!= col("v0"))
        .select(least(col("u0"), col("v0")).as("u"), greatest(col("u0"), col("v0")).as("v"))
        .distinct()
        .persist()
      val mDist = edges.count()
      val maxDeg = edges
        .select(explode(array(col("u"), col("v"))).as("h"))
        .groupBy(col("h")).agg(count(lit(1)).as("d"))
        .agg(max(col("d"))).collect()(0).getLong(0)
      println(s"PROF tri graph: $mDist distinct edges, $nHosts hosts, maxDeg=$maxDeg")
      phase(s"tri${triK}k_oriented", mDist)(llm.Urls.triangles(edges))
      // the gate's k-core peel on the same skewed graph — per round one
      // exploded degree count + two equi-joins on the SHRINKING edge
      // set. Mean degree is 2m/n ≈ 20 but the skew concentrates mass
      // low: k at HALF the mean leaves a non-trivial deep core while
      // peeling most hosts — both the cascade and the survivors real
      phase(s"tri${triK}k_kcore", mDist)(llm.Urls.kcore(edges, math.max(2L, mDist / nHosts), rounds = 8))
      edges.unpersist()
      ()
    }

    // PROF_WEB=k: the r14 web-ingest chain at k-thousand pages — plant
    // ~1.5 KB of HTML per doc, write WARC segments (32 files), parse
    // them back, run the robust extraction. Per-kernel decade coverage
    // for the WARC codec and the quote-aware/entity-decoding regex
    // stack (both row-local; the numbers are the Mrows/s the chain
    // sustains and the proof there is no per-record cliff).
    val webK = sys.env.getOrElse("PROF_WEB", "0").toInt
    if (webK > 0) {
      val nPages = webK * 1000L
      val webDocs = spark
        .range(nPages)
        .select(
          col("id").as("doc_id"),
          expr(
            "concat_ws(' ', transform(sequence(1, 200), j -> " +
              "CASE WHEN j % 7 = 0 THEN 'the' WHEN j % 5 = 0 THEN 'of' ELSE concat('w', (id + j) % 997) END))"
          ).as("text")
        )
      val pages = webDocs
        .select(
          col("doc_id"),
          concat(lit("http://h/doc/"), col("doc_id").cast("string")).as("uri"),
          expr(graft.llm.Curation.htmlPlantExpr).as("html")
        )
        .persist()
      pages.count()
      val warcDir = sources.Scratch.dir("prof_warc")
      t(s"web${webK}k_warc_write", nPages) {
        sources.WarcOps.writeSpark(pages, warcDir, nFiles = 32)
        nPages
      }
      phase(s"web${webK}k_warc_read", nPages)(
        sources.WarcOps.readSpark(spark, warcDir + "/part-*.warc")
      )
      phase(s"web${webK}k_html_extract", nPages)(
        llm.Curation.htmlExtractPages(pages).filter(col("n_kept") > 0)
      )
      // r15 CDX decades: the index projection (row-local SURT/digest
      // off the parse) and ranged-read serving of a 1-in-20 sample —
      // the wayback consumer's O(record)-per-lookup contract at scale
      phase(s"web${webK}k_cdx_build", nPages)(
        sources.WarcOps
          .cdxIndex(sources.WarcOps.readSpark(spark, warcDir + "/part-*.warc"))
          .filter(col("digest").isNotNull)
      )
      // r15 revisit decade: crawl-2 egress against crawl-1's CDX —
      // the storage-dedup join + conditional render at page scale
      // (~1/3 of pages change inside the render window)
      phase(s"web${webK}k_warc_revisit", nPages) {
        val cdx1 = sources.WarcOps
          .cdxIndex(sources.WarcOps.readSpark(spark, warcDir + "/part-*.warc"))
          .select(col("url").as("uri"), col("digest"))
        val pages2 = webDocs
          .select(
            col("doc_id"),
            expr("CASE WHEN doc_id % 3 = 0 THEN concat('CHANGED ', text) ELSE text END").as("text")
          )
          .select(
            col("doc_id"),
            concat(lit("http://h/doc/"), col("doc_id").cast("string")).as("uri"),
            expr(graft.llm.Curation.htmlPlantExpr).as("html")
          )
        val revDir = sources.Scratch.dir("prof_revisit")
        sources.WarcOps.writeRevisitSpark(pages2, cdx1, revDir, nFiles = 32)
        sources.WarcOps
          .readSpark(spark, revDir + "/part-*.warc")
          .filter(col("warc_type") === "revisit")
      }
      phase(s"web${webK}k_cdx_lookup", nPages / 20) {
        val cdx = sources.WarcOps
          .cdxIndex(sources.WarcOps.readSpark(spark, warcDir + "/part-*.warc"))
          .select(
            regexp_extract(col("urlkey"), "/doc/([0-9]+)$", 1).cast("long").as("doc_id"),
            col("warc_file"),
            col("rec_offset"),
            col("rec_length")
          )
          .filter(col("doc_id") % 20 === 0)
        sources.WarcOps
          .fetchRecords(cdx, warcDir)
          .filter(col("fetch_status") === "200")
      }
      // r16 dated-merge decade: THREE dated crawls (full base crawl +
      // two overlapping re-crawl subsets with changed text), CDX-indexed
      // and merged latest-wins by capture time — the merge itself is one
      // urlkey groupBy over index rows; ≥3 crawls proves the multi-crawl
      // path beyond the gate's plant. Crawls B/C are written untimed
      // (egress decades are covered above); the timer pays the 3-dir
      // parse + index + merge.
      val mrgRoot = sources.Scratch.dir("prof_cdx_merge")
      locally {
        def crawlOf(sub: String, date: String, mod: Int, sfx: String): Unit =
          sources.WarcOps.writeSpark(
            webDocs
              .filter(col("doc_id") % mod === 0)
              .select(col("doc_id"), expr(s"concat(text, ' $sfx')").as("text"))
              .select(
                col("doc_id"),
                concat(lit("http://h/doc/"), col("doc_id").cast("string")).as("uri"),
                expr(graft.llm.Curation.htmlPlantExpr).as("html")
              ),
            mrgRoot + "/" + sub,
            nFiles = 32,
            date = date
          )
        crawlOf("c2", "2024-02-01T00:00:00Z", 3, "v2")
        crawlOf("c3", "2024-03-01T00:00:00Z", 5, "v3")
      }
      def mergeChain(): org.apache.spark.sql.DataFrame = {
        def cdxOf(dir: String, sub: String) =
          sources.WarcOps
            .cdxIndex(sources.WarcOps.readSpark(spark, dir + "/part-*.warc"))
            .filter(col("warc_type") === "response")
            .withColumn("warc_file", concat_ws("/", lit(sub), col("warc_file")))
        cdxOf(warcDir, "c1")
          .unionByName(cdxOf(mrgRoot + "/c2", "c2"))
          .unionByName(cdxOf(mrgRoot + "/c3", "c3"))
      }
      phase(s"web${webK}k_cdx_merge3", nPages)(
        // latest_ts rides the max_by — filtering on it forces the full
        // argmax, not just the prunable capture count
        sources.WarcOps
          .cdxMergeLatest(mergeChain())
          .filter(col("latest_ts") > "0")
      )
      // r16 recrawl-priority decade: change-rate estimate + prioritized
      // politeness schedule off the same 3-crawl chain (urls rewritten
      // onto the 20-host site plant so the schedule's host-delay class
      // parses)
      phase(s"web${webK}k_crawl_priority", nPages) {
        val chain = mergeChain().withColumn(
          "url",
          concat(
            lit("http://site"),
            (regexp_extract(col("urlkey"), "/doc/([0-9]+)$", 1).cast("long") % 20).cast("string"),
            lit(".example.com/doc/"),
            regexp_extract(col("urlkey"), "/doc/([0-9]+)$", 1)
          )
        )
        sources.WarcOps
          .prioritySchedule(sources.WarcOps.recrawlPriority(chain))
          .filter(col("fetch_at_ms") >= 0)
      }
      // r16 fused-priority decade: the publisher-signal class join over
      // the same 3-crawl chain — a synthetic sitemap lists 8/9 of URLs
      // with ~half the lastmods after the latest capture, so both
      // classes populate and the join/window carry real selectivity
      phase(s"web${webK}k_priority_fused", nPages) {
        val chain = mergeChain().withColumn(
          "url",
          concat(
            lit("http://site"),
            (regexp_extract(col("urlkey"), "/doc/([0-9]+)$", 1).cast("long") % 20).cast("string"),
            lit(".example.com/doc/"),
            regexp_extract(col("urlkey"), "/doc/([0-9]+)$", 1)
          )
        )
        // the chain's urlkeys are SURT('http://h/doc/N') = 'h)/doc/N'
        val smAligned = webDocs
          .filter(col("doc_id") % 9 =!= 7)
          .select(
            concat(lit("h)/doc/"), col("doc_id").cast("string")).as("urlkey"),
            when(col("doc_id") % 2 === 0, "20240601000000")
              .otherwise("20230101000000")
              .as("sm_ts")
          )
        sources.WarcOps
          .fusedSchedule(sources.WarcOps.fusedPriority(chain, smAligned))
          .filter(col("fetch_at_ms") >= 0)
      }
      // byte-level BPE end-to-end (remap + trainer collect + encode)
      // on the same corpus — the ByteRemap expression's decade
      phase(s"web${webK}k_bpe_bytes", nPages)(
        llm.Bpe.tokensBpeBytes(webDocs).filter(col("decode_ok"))
      )
      // r15 derivative-emission decades: WET (extraction text as
      // conversion records) and gzipped WARC (one member per record)
      val wetDir = sources.Scratch.dir("prof_wet")
      val texts = llm.Curation
        .htmlExtractTextPages(pages)
        .select(
          col("doc_id"),
          concat(lit("http://h/doc/"), col("doc_id").cast("string")).as("uri"),
          col("text")
        )
        .persist()
      texts.count()
      t(s"web${webK}k_wet_write", nPages) {
        sources.WarcOps.writeWetSpark(texts, wetDir, nFiles = 32)
        nPages
      }
      phase(s"web${webK}k_wet_read", nPages)(
        sources.WarcOps.readSpark(spark, wetDir + "/part-*.wet")
      )
      texts.unpersist()
      val gzDir = sources.Scratch.dir("prof_warc_gz")
      t(s"web${webK}k_warc_gz_write", nPages) {
        sources.WarcOps.writeSpark(pages, gzDir, nFiles = 32, gzip = true)
        nPages
      }
      phase(s"web${webK}k_warc_gz_read", nPages)(
        sources.WarcOps.readSpark(spark, gzDir + "/part-*.warc.gz")
      )
      // r15 gz CDX decade: member splitting with compressed-byte
      // accounting (the Inflater path) at page scale
      phase(s"web${webK}k_cdx_gz_build", nPages)(
        sources.WarcOps
          .cdxIndex(sources.WarcOps.readSparkGz(spark, gzDir + "/part-*.warc.gz"))
          .filter(col("digest").isNotNull)
      )
      // r16 sitemap decades: sharded render (protocol shape — one
      // host-keyed agg over entry strings, files capped at 100 URLs so
      // the shard window and index leg both exercise) and the row-local
      // parse back; parse count must tile the URL set exactly
      val smUrls = webDocs
        .select(
          col("doc_id"),
          concat(lit("h"), (col("doc_id") % 997).cast("string"), lit(".example.com")).as("host"),
          concat(
            lit("h"),
            (col("doc_id") % 997).cast("string"),
            lit(".example.com/doc/"),
            col("doc_id").cast("string")
          ).as("canon")
        )
      val smSharded = llm.Sitemaps.sitemapRenderSharded(smUrls, maxPerFile = 100)
      phase(s"web${webK}k_sitemap_render", nPages)(smSharded)
      val smCk = smSharded.localCheckpoint()
      t(s"web${webK}k_sitemap_parse", nPages) {
        val n = Harness.written(llm.Sitemaps.sitemapParse(smCk.select(col("host"), col("xml"))))
        require(n == nPages, s"sitemap parse tiling: $n != $nPages")
        n
      }
      // refetch diff at page scale: two full parses + the loc-keyed
      // full-outer join (narrow string rows; status must split)
      t(s"web${webK}k_sitemap_diff", nPages) {
        val v1 = llm.Sitemaps.sitemapParse(smCk.select(col("host"), col("xml")))
        val v2p = llm.Sitemaps.sitemapRenderWith(
          smUrls.filter(col("doc_id") % 11 =!= 5),
          when(col("doc_id") % 3 === 0, expr(llm.Sitemaps.lastmodV2Expr))
            .otherwise(expr(llm.Sitemaps.lastmodExpr))
        )
        val v2 = llm.Sitemaps.sitemapParse(v2p)
        val byStatus = llm.Sitemaps
          .sitemapDiff(v1, v2)
          .groupBy(col("status"))
          .count()
          .collect()
          .map(r => r.getString(0) -> r.getLong(1))
          .toMap
        require(
          byStatus.getOrElse("changed", 0L) > 0 && byStatus.getOrElse("removed", 0L) > 0,
          s"diff decade vacuous: $byStatus"
        )
        byStatus.values.sum
      }
      // r16 charset decade: sniff + transcode over the five-arm plant
      // (row-local decode under codegen); every row must roundtrip —
      // compared IN-FRAME (the plant keeps `page`), so the timer pays
      // the operator, not an artificial 200k×1.4KB string-join shuffle
      t(s"web${webK}k_charset_decode", nPages) {
        val out = sources.Charsets.decodeFetched(sources.Charsets.fetchPlant(webDocs))
        val n = Harness.written(out.filter(col("text_out") === col("page")))
        require(n == nPages, s"charset roundtrip: $n != $nPages")
        n
      }
      pages.unpersist()
      ()
    }

    // PROF_WARCSEG=mb: realistic SEGMENT-SIZE decade for the WARC codec
    // (r15 — the ADVICE boundary: PROF_WEB used ~1.5 KB pages across 32
    // small files; Common Crawl segments are ~1 GiB). Writes ~mb MB of
    // WARC as 4 large segments of ~200 KB records, then parses them
    // back through the INCREMENTAL PortableDataStream path — task
    // memory is O(record) by construction (the pre-r15 pds.toArray()
    // form allocated the whole segment per task), so segment size
    // scales freely; the read phase must stay spill-free with per-task
    // allocations bounded by the record size, not the segment.
    val segMb = sys.env.getOrElse("PROF_WARCSEG", "0").toInt
    if (segMb > 0) {
      val pageKb = 200L
      val nPages = segMb * 1024L / pageKb
      val reps = pageKb * 1024 / 40
      val big = spark
        .range(nPages)
        .select(
          col("id").as("doc_id"),
          concat(lit("http://h/doc/"), col("id").cast("string")).as("uri"),
          expr(s"repeat(concat('<p>chunk ', CAST(id AS STRING), ' body word</p>'), $reps)")
            .as("html")
        )
      val dir = sources.Scratch.dir("prof_warcseg")
      val planted = big.agg(sum(length(col("html")))).collect()(0).getLong(0)
      t(s"warcseg${segMb}mb_write", nPages) {
        sources.WarcOps.writeSpark(big, dir, nFiles = 4)
        nPages
      }
      t(s"warcseg${segMb}mb_read", nPages) {
        // sum of body lengths forces full record materialization and
        // must equal the planted byte count EXACTLY (ASCII bodies)
        val got = sources.WarcOps
          .readSpark(spark, dir + "/part-*.warc")
          .agg(sum(length(col("body"))))
          .collect()(0)
          .getLong(0)
        require(got == planted, s"parsed $got body bytes != $planted planted")
        nPages
      }
      println(s"PROF warcseg: ${planted / (1024 * 1024)} MiB of bodies across 4 segments")
      ()
    }

    // PROF_RUNS=k: exact shared-run detection (dedup_runs machinery) at
    // k-thousand REALISTIC-length docs — 300 unique filler tokens each,
    // every 5th doc appending one of 10 shared 500-token (~3 KB)
    // passages, so real multi-doc run groups exist at every length the
    // island pass handles. The gate corpus is 54-token docs; this is
    // the per-kernel decade the r13 lesson demands (the gram explode is
    // ~n_tokens rows/doc and the gh aggregation + per-doc island window
    // are the spill candidates).
    val runsK = sys.env.getOrElse("PROF_RUNS", "0").toInt
    if (runsK > 0) {
      val nDocs = runsK * 1000L
      val runDocs = spark
        .range(nDocs)
        .select(
          col("id").as("doc_id"),
          concat(
            expr("concat_ws(' ', transform(sequence(1, 300), j -> concat('t', id, 'x', j)))"),
            when(
              col("id") % 5 === 0,
              expr(
                "concat(' ', concat_ws(' ', transform(sequence(1, 500), j -> concat('p', id % 10, 'x', j))))"
              )
            ).otherwise(lit(""))
          ).as("text")
        )
        .persist()
      runDocs.count()
      // scale config: 64-bit rolling ShingleHashes gram ids (the md5
      // gate form measured 1.5 GiB spill here — BASELINE.md r14)
      phase(s"runs${runsK}k_shared", nDocs)(llm.Dedup.sharedRunsFast(runDocs))
      runDocs.unpersist()
      ()
    }

    // PROF_BPE=k: distributed merge-batch BPE training of k merges over
    // a deterministic Zipfian 200k-word vocabulary (the realistic
    // trainer workload the 31-word gate corpus can't exercise). Each
    // round = one pair-count aggregation over the VOCAB-sized state +
    // one bounded safety scan; the round count printed is the number of
    // corpus-independent Spark jobs k merges cost.
    val bpeK = sys.env.getOrElse("PROF_BPE", "0").toInt
    if (bpeK > 0) {
      val nWords = 200000L
      val words = spark
        .range(1, nWords + 1)
        .select(
          // hex-derived word, length 4..11, Zipf-ish frequency ~ 1/rank
          expr("substr(md5(CAST(id AS STRING)), 1, 4 + CAST(id % 8 AS INT))").as("word"),
          greatest(lit(1L), (lit(2000000L) / col("id")).cast("long")).as("freq")
        )
        .groupBy(col("word"))
        .agg(sum(col("freq")).as("freq"))
        .persist()
      words.count()
      val rounds = new java.util.concurrent.atomic.AtomicLong(0L)
      var trained: Seq[String] = Seq.empty
      t(s"bpe_train$bpeK", nWords) {
        trained = llm.Bpe.trainDistributed(words, bpeK, onRound = _ => { rounds.incrementAndGet(); () })
        trained.count(_ != llm.Bpe.nope).toLong
      }
      println(s"PROF bpe_train$bpeK rounds=${rounds.get} merges=${trained.count(_ != llm.Bpe.nope)}")
      words.unpersist()
      // ENCODE with the trained table — the production composition the
      // 32-merge gate path can't exercise: a synthetic Zipf-draw corpus
      // over the SAME vocabulary (head-heavy ranks via pow(u, 4)), one
      // row-local bpe_count projection per doc. The BpeRewriter memo
      // makes the cost per-DISTINCT-word, so the k-merge fold amortizes
      // across the Zipf head; the k=32 prefix encode is timed as the
      // baseline the gate config pays.
      val nSynDocs = 50000L
      val wordOf = (r: String) => s"substr(md5(CAST($r AS STRING)), 1, 4 + CAST($r % 8 AS INT))"
      val rankOf = "1 + CAST(floor(pow(pmod(hash(id * 128 + i), 1048576) / 1048576.0e0, 4.0e0) * " +
        s"${nWords - 1}) AS BIGINT)"
      val synDocs = spark
        .range(1, nSynDocs + 1)
        .select(
          col("id").as("doc_id"),
          expr(s"array_join(transform(sequence(1, 128), i -> ${wordOf(s"($rankOf)")}), ' ')").as("text")
        )
        .persist()
      val nSynTok = nSynDocs * 128L
      synDocs.count()
      t(s"bpe_encode${bpeK}_trained", nSynTok)(
        llm.Bpe.tokensBpeWith(synDocs, trained).agg(sum(col("n_bpe"))).collect()(0).getLong(0)
      )
      t(s"bpe_encode32_prefix", nSynTok)(
        llm.Bpe.tokensBpeWith(synDocs, trained.take(32)).agg(sum(col("n_bpe"))).collect()(0).getLong(0)
      )
      synDocs.unpersist()
      ()
    }
    spark.stop()
  }
}
