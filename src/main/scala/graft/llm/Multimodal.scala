package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Dsp, Tables}

/** Multimodal-column plumbing: opaque binary payloads + typed metadata,
  * with decode / feature-extraction / resize / frame-sampling stages.
  *
  * The image and audio paths use REAL pure-JVM codecs — PNG via
  * `javax.imageio` and WAV via `javax.sound.sampled`, both in the JDK —
  * so `mm_png_features`/`mm_to_wav_features` decode genuine container
  * formats executor-side. They stay oracle-checkable because the codecs
  * are lossless: decode(encode(x)) == x, and the synthetic pixels/PCM
  * are SQL-expressible functions of the source tables. The legacy
  * byte-stat kernel (`stubDecode`) remains as the format-agnostic
  * fallback for codecs the JVM lacks (video etc.).
  */
object Multimodal {

  import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
  import java.nio.{ByteBuffer, ByteOrder}

  // ---- real codecs (JDK-only) ----

  // ImageIO defaults to DISK-backed stream caches (a temp file per
  // encode/decode call); in-memory caching removes that per-image I/O
  javax.imageio.ImageIO.setUseCache(false)

  /** Encode an 8-bit grayscale raster as a real PNG. */
  def encodePng(gray: Array[Byte], w: Int, h: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    img.getRaster.setDataElements(0, 0, w, h, gray)
    val bos = new ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** Decode a PNG to (width, height, 8-bit grayscale raster). */
  def decodePng(png: Array[Byte]): (Int, Int, Array[Byte]) = {
    val img = javax.imageio.ImageIO.read(new ByteArrayInputStream(png))
    val w = img.getWidth; val h = img.getHeight
    val g = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    g.getGraphics.drawImage(img, 0, 0, null)
    val gray = new Array[Byte](w * h)
    g.getRaster.getDataElements(0, 0, w, h, gray)
    (w, h, gray)
  }

  /** Encode mono 16-bit PCM as a real RIFF/WAVE file. */
  def encodeWav(samples: Array[Short], sampleRate: Int = 8000): Array[Byte] = {
    val dataLen = samples.length * 2
    val bb = ByteBuffer.allocate(44 + dataLen).order(ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen).put("WAVE".getBytes("US-ASCII"))
    bb.put("fmt ".getBytes("US-ASCII")).putInt(16)
    bb.putShort(1).putShort(1).putInt(sampleRate).putInt(sampleRate * 2).putShort(2).putShort(16)
    bb.put("data".getBytes("US-ASCII")).putInt(dataLen)
    samples.foreach(bb.putShort)
    bb.array()
  }

  /** Decode a WAV through the javax.sound codec (header parse + PCM). */
  def decodeWav(wav: Array[Byte]): Array[Short] = {
    val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(new ByteArrayInputStream(wav))
    val fmt = ais.getFormat
    require(fmt.getSampleSizeInBits == 16, s"expected 16-bit PCM, got $fmt")
    val bytes = ais.readAllBytes()
    val bb = ByteBuffer
      .wrap(bytes)
      .order(if (fmt.isBigEndian) ByteOrder.BIG_ENDIAN else ByteOrder.LITTLE_ENDIAN)
    Array.fill(bytes.length / 2)(bb.getShort())
  }

  /** Spectral band-energy shares of decoded audio — the audio
    * feature-extraction pattern of a training-data pipeline, end to
    * end through the REAL javax.sound codec: decode PCM16, zero-pad /
    * truncate to a 64-sample analysis frame, DFT bins k = 1..4 as
    * literal-weighted dot products (the cos/sin tables are embedded as
    * literals — the FIR lag-sum pattern — so both engines execute the
    * identical IEEE arithmetic with NO runtime trig), and emit each
    * bin's share of frame energy. The oracle replays the deterministic
    * sample generator instead of decoding bytes (mm_wav_features
    * precedent), so a codec regression breaks the hash.
    */
  def wavSpectral(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    val n = 64
    val decoded = media
      .select(col("media_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, wav) => (id, decodeWav(wav).map(_.toInt)) })
      .toDF("media_id", "s")
      .select(
        col("media_id"),
        slice(concat(col("s"), array_repeat(lit(0), n)), 1, n).as("p")
      )
    def dot(ws: Array[Double]): org.apache.spark.sql.Column =
      ws.zipWithIndex
        .map { case (w, t) => element_at(col("p"), t + 1).cast("double") * lit(w) }
        .reduceLeft(_ + _)
    val eTot = (0 until n)
      .map(t => element_at(col("p"), t + 1).cast("double") * element_at(col("p"), t + 1))
      .reduceLeft(_ + _)
    val withSums = decoded.select(
      col("media_id") +: eTot.as("etot") +: (1 to 4).flatMap { k =>
        val cw = Array.tabulate(n)(t => math.cos(2 * math.Pi * k * t / n))
        val sw = Array.tabulate(n)(t => math.sin(2 * math.Pi * k * t / n))
        Seq(dot(cw).as(s"c$k"), dot(sw).as(s"s$k"))
      }: _*
    )
    withSums.select(
      col("media_id") +: (1 to 4).map { k =>
        Dsp.round6(
          (col(s"c$k") * col(s"c$k") + col(s"s$k") * col(s"s$k")) /
            (lit(n.toDouble / 2) * greatest(col("etot"), lit(1e-9)))
        ).as(s"band$k")
      }: _*
    )
  }

  /** DuckDB twin of [[wavSpectral]]: the generator's samples gathered
    * into an ordered list, then the SAME left-associated
    * literal-weighted sums.
    */
  val wavSpectralSql: String = {
    val n = 64
    def term(t: Int, w: Double) = s"list_extract(vs, ${t + 1}) * ${Dsp.lit(w)}"
    def dot(ws: Array[Double]) =
      ws.zipWithIndex.map { case (w, t) => term(t, w) }.mkString("(", " + ", ")")
    val eTot = (0 until n)
      .map(t => s"CAST(list_extract(vs, ${t + 1}) AS DOUBLE) * list_extract(vs, ${t + 1})")
      .mkString("(", " + ", ")")
    val bands = (1 to 4).map { k =>
      val cw = Array.tabulate(n)(t => math.cos(2 * math.Pi * k * t / n))
      val sw = Array.tabulate(n)(t => math.sin(2 * math.Pi * k * t / n))
      Dsp.round6Sql(
        s"(${dot(cw)} * ${dot(cw)} + ${dot(sw)} * ${dot(sw)}) / (${Dsp.lit(n / 2.0)} * greatest($eTot, 1.0e-9))"
      ) + s" AS band$k"
    }
    "WITH d AS (SELECT doc_id, length(text) % 256 + 16 AS n FROM documents), " +
      s"sm AS (SELECT doc_id, g.t AS t, CASE WHEN g.t < n THEN (doc_id * 131 + g.t * 17) % 2003 - 1001 ELSE 0 END AS v " +
      s"FROM d, generate_series(0, ${n - 1}) g(t)), " +
      "l AS (SELECT doc_id AS media_id, list(v ORDER BY t) AS vs FROM sm GROUP BY doc_id) " +
      s"SELECT media_id, ${bands.mkString(", ")} FROM l"
  }

  /** Real bilinear resize of an 8-bit grayscale raster (half-pixel
    * centers, edge clamp) — the actual pixel resample resizeStub stood
    * in for.
    */
  def bilinearResize(gray: Array[Byte], w: Int, h: Int, ow: Int, oh: Int): Array[Byte] = {
    val out = new Array[Byte](ow * oh)
    var j = 0
    while (j < oh) {
      val sy = (j + 0.5) * h / oh - 0.5
      val y0 = math.max(0, math.min(h - 1, math.floor(sy).toInt))
      val y1 = math.min(h - 1, y0 + 1)
      val fy = math.max(0.0, math.min(1.0, sy - y0))
      var i = 0
      while (i < ow) {
        val sx = (i + 0.5) * w / ow - 0.5
        val x0 = math.max(0, math.min(w - 1, math.floor(sx).toInt))
        val x1 = math.min(w - 1, x0 + 1)
        val fx = math.max(0.0, math.min(1.0, sx - x0))
        def px(y: Int, x: Int): Double = (gray(y * w + x) & 0xff).toDouble
        val p = (1 - fy) * ((1 - fx) * px(y0, x0) + fx * px(y0, x1)) +
          fy * ((1 - fx) * px(y1, x0) + fx * px(y1, x1))
        out(j * ow + i) = math.max(0.0, math.min(255.0, math.round(p).toDouble)).toByte
        i += 1
      }
      j += 1
    }
    out
  }

  /** Synthetic media corpus derived from documents: payload = utf-8
    * bytes, metadata typed as (width, height, format, n_frames). The
    * corpus contract is ASCII (char length == byte length) — the
    * mm_features oracle states byte stats via per-character codepoints,
    * which only coincide under that contract; non-ASCII docs are
    * excluded identically on both engines (`length = strlen` in DuckDB).
    */
  def syntheticMedia(spark: SparkSession, dir: String): DataFrame =
    Tables
      .documents(spark, dir)
      .filter(length(col("text")) === octet_length(col("text")))
      .select(
        col("doc_id").as("media_id"),
        encode(col("text"), "UTF-8").as("payload"),
        struct(
          (length(col("text")) % 64 + 1).as("width"),
          (length(col("text")) % 48 + 1).as("height"),
          lit("fake/raw").as("format"),
          (length(col("text")) / 64 + 1).as("n_frames")
        ).as("meta")
      )

  /** STUB decode kernel: a real codec would decode `payload` to pixels/
    * samples; the deterministic fake emits per-byte statistics so the
    * batch shape (one feature vector per media row) is exercised
    * end-to-end.
    */
  def stubDecode(payload: Array[Byte]): Array[Double] = {
    if (payload.isEmpty) Array(0.0, 0.0, 0.0)
    else {
      val n = payload.length.toDouble
      var sum = 0.0; var min = 255.0; var max = 0.0
      payload.foreach { b =>
        val v = (b & 0xff).toDouble
        sum += v; if (v < min) min = v; if (v > max) max = v
      }
      Array(n, sum / n, max - min)
    }
  }

  /** Batched per-partition feature extraction (the Scala analogue of a
    * mapInPandas batch UDF): payload bytes never leave the executor.
    */
  def decodeFeatures(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media
      .select(col("media_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, bytes) =>
        val f = stubDecode(bytes)
        (id, f(0), f(1), f(2))
      })
      .toDF("media_id", "n_bytes", "mean_byte", "byte_range")
  }

  /** Fixed-size frame sampling of a "video" payload: 64-byte frames,
    * every k-th kept — pure column ops, no driver involvement.
    */
  def frameSample(media: DataFrame, everyK: Int): DataFrame = {
    // explicit substring framing (a \G-lookbehind split silently
    // degrades to one frame per row under Java regex — caught by the
    // DuckDB oracle, not by rows-only checks)
    val frameLen = 64
    media
      .select(col("media_id"), hex(col("payload")).as("hx"))
      .select(col("media_id"), col("hx"), explode(sequence(lit(0), lit(63))).as("frame_idx"))
      .filter(col("frame_idx") % everyK === 0 && col("frame_idx") * frameLen < length(col("hx")))
      .select(
        col("media_id"),
        col("frame_idx"),
        col("hx").substr(col("frame_idx") * frameLen + 1, lit(frameLen)).as("frame_hex")
      )
  }

  /** PNG media corpus: per document a deterministic grayscale image
    * (pixel k = codepoint of the text at char k mod len, mod 256)
    * encoded as a REAL PNG executor-side. Codepoints — not UTF-8
    * bytes — so the pixel definition matches DuckDB's `unicode(substr(
    * text, …, 1))` for ANY text, not only ASCII. Lossless, so the
    * oracle can state pixel facts directly from `documents.text`.
    */
  def pngMedia(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables
      .documents(spark, dir)
      .filter(length(col("text")) > 0)
      .select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .mapPartitions(_.map { case (id, text) =>
        val cps = text.codePoints().toArray
        val w = cps.length % 64 + 1
        val h = cps.length % 48 + 1
        val gray = Array.tabulate(w * h)(k => (cps(k % cps.length) % 256).toByte)
        (id, encodePng(gray, w, h))
      })
      .toDF("media_id", "payload")
  }

  /** Per-image pixel statistics through the real PNG decoder. */
  def pngFeatures(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media
      .select(col("media_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, png) =>
        val (w, h, gray) = decodePng(png)
        var sum = 0L; var mn = 255; var mx = 0
        gray.foreach { b =>
          val v = b & 0xff
          sum += v; if (v < mn) mn = v; if (v > mx) mx = v
        }
        (id, w, h, sum.toDouble / (w * h), mn.toLong, mx.toLong)
      })
      .toDF("media_id", "width", "height", "mean_px", "min_px", "max_px")
      .select(
        col("media_id"),
        col("width"),
        col("height"),
        // engine-identical rounding: w·h denominators hit powers of two,
        // the exact-half class where native round() diverges (CLAUDE.md)
        Dsp.round6(col("mean_px")).as("mean_px"),
        col("min_px"),
        col("max_px")
      )
  }

  // ---- "video" container: header-directed frame access ----

  /** Serialize the deterministic fake video container: 8-byte header
    * (magic "GVID", width byte, height byte, n_frames big-endian short)
    * followed by n_frames raw w·h grayscale frames. No JVM video codec
    * exists, so the CONTAINER is real (header-directed offsets, the EDF
    * pattern applied to media) while the pixel payload is the
    * deterministic fake the oracle can replay:
    * px(f, p) = (doc_id·31 + f·17 + p·7) mod 256.
    */
  def encodeVideo(docId: Long): Array[Byte] = {
    val w = (docId % 8 + 4).toInt
    val h = (docId % 6 + 4).toInt
    val nf = (docId % 12 + 5).toInt
    val out = new Array[Byte](8 + nf * w * h)
    out(0) = 'G'; out(1) = 'V'; out(2) = 'I'; out(3) = 'D'
    out(4) = w.toByte; out(5) = h.toByte
    out(6) = (nf >> 8).toByte; out(7) = (nf & 0xff).toByte
    var f = 0
    while (f < nf) {
      var p = 0
      while (p < w * h) {
        out(8 + f * w * h + p) = ((docId * 31 + f * 17 + p * 7) % 256).toByte
        p += 1
      }
      f += 1
    }
    out
  }

  /** Parse the container header + frames: (width, height, frames). */
  def decodeVideo(payload: Array[Byte]): (Int, Int, Array[Array[Int]]) = {
    require(
      payload.length >= 8 && payload(0) == 'G' && payload(1) == 'V' &&
        payload(2) == 'I' && payload(3) == 'D',
      "bad GVID magic"
    )
    val w = payload(4) & 0xff
    val h = payload(5) & 0xff
    val nf = ((payload(6) & 0xff) << 8) | (payload(7) & 0xff)
    val frames = Array.tabulate(nf)(f => Array.tabulate(w * h)(p => payload(8 + f * w * h + p) & 0xff))
    (w, h, frames)
  }

  def videoMedia(spark: SparkSession, dir: String): DataFrame =
    videoMediaFromIds(Tables.documents(spark, dir).select(col("doc_id")))

  def videoMediaFromIds(ids: DataFrame): DataFrame = {
    val spark = ids.sparkSession
    import spark.implicits._
    ids
      .select(col("doc_id"))
      .as[Long]
      .mapPartitions(_.map(id => (id, encodeVideo(id))))
      .toDF("media_id", "payload")
  }

  private def round6d(v: Double): Double = math.floor(v * 1.0e6 + 0.5) / 1.0e6

  /** Header-directed frame sampling + per-frame features THROUGH the
    * binary: every `everyK`-th frame is decoded to (mean_px, max_px)
    * plus `motion` = mean |px − px_prev_sampled| (0 for the first
    * sampled frame) — the keyframe-statistics pass a video curation
    * pipeline runs. Row-local mapPartitions (the mapInPandas batch
    * shape): payload bytes never leave the executor, output is one
    * small row per sampled frame.
    */
  def videoFrames(media: DataFrame, everyK: Int = 4): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media
      .select(col("media_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, bytes) =>
        val (w, h, frames) = decodeVideo(bytes)
        val npx = w * h
        frames.indices.collect {
          case f if f % everyK == 0 =>
            val cur = frames(f)
            val mean = round6d(cur.sum.toDouble / npx)
            val mx = cur.max.toLong
            val motion =
              if (f < everyK) 0.0
              else {
                val prev = frames(f - everyK)
                var s = 0L; var p = 0
                while (p < npx) { s += math.abs(cur(p) - prev(p)); p += 1 }
                round6d(s.toDouble / npx)
              }
            (id, f.toLong, mean, mx, motion)
        }
      })
      .toDF("media_id", "frame_idx", "mean_px", "max_px", "motion")
  }

  /** Oracle twin: replays the pixel formula per (doc, sampled frame)
    * with the SAME integer-sum-then-divide arithmetic — a container
    * regression (offset bug, header misparse) moves Spark's output off
    * the replayed formula and breaks the hash.
    */
  def videoFramesSql(everyK: Int = 4): String =
    "WITH d AS (SELECT doc_id, doc_id % 8 + 4 AS w, doc_id % 6 + 4 AS h, doc_id % 12 + 5 AS nf FROM documents), " +
      s"fr AS (SELECT doc_id, w, h, nf, g.f AS f FROM d, generate_series(0, 16) g(f) " +
      s"WHERE g.f % $everyK = 0 AND g.f < nf), " +
      "px AS (SELECT doc_id, f, (doc_id * 31 + f * 17 + p.p * 7) % 256 AS v, " +
      s"CASE WHEN f >= $everyK THEN abs((doc_id * 31 + f * 17 + p.p * 7) % 256 - " +
      s"(doc_id * 31 + (f - $everyK) * 17 + p.p * 7) % 256) ELSE 0 END AS dv " +
      "FROM fr, generate_series(0, 98) p(p) WHERE p.p < w * h) " +
      "SELECT doc_id AS media_id, CAST(f AS BIGINT) AS frame_idx, " +
      Dsp.round6Sql("CAST(sum(v) AS DOUBLE) / count(*)") + " AS mean_px, " +
      "CAST(max(v) AS BIGINT) AS max_px, " +
      s"CASE WHEN max(f) >= $everyK THEN " +
      Dsp.round6Sql("CAST(sum(dv) AS DOUBLE) / count(*)") + " ELSE 0.0 END AS motion " +
      "FROM px GROUP BY doc_id, f"

  /** WAV media corpus: per document a deterministic PCM16 waveform
    * s(t) = ((doc_id·131 + t·17) mod 2003) − 1001, n = len mod 256 + 16,
    * packed as a REAL RIFF/WAVE payload.
    */
  def wavMedia(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables
      .documents(spark, dir)
      .select(col("doc_id"), length(col("text")).cast("long").as("len"))
      .as[(Long, Long)]
      .mapPartitions(_.map { case (id, len) =>
        val n = (len % 256 + 16).toInt
        val samples = Array.tabulate(n)(t => (((id * 131 + t.toLong * 17) % 2003) - 1001).toShort)
        (id, encodeWav(samples))
      })
      .toDF("media_id", "payload")
  }

  /** Per-clip PCM statistics through the javax.sound WAV codec. */
  def wavFeatures(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media
      .select(col("media_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, wav) =>
        val s = decodeWav(wav)
        var sum = 0L; var mxa = 0L
        s.foreach { v => sum += v; if (math.abs(v.toLong) > mxa) mxa = math.abs(v.toLong) }
        (id, s.length.toLong, sum.toDouble / s.length, mxa)
      })
      .toDF("media_id", "n_samples", "mean_pcm", "max_abs")
      .select(
        col("media_id"),
        col("n_samples"),
        Dsp.round6(col("mean_pcm")).as("mean_pcm"),
        col("max_abs")
      )
  }

  /** 64-bit difference hash (dHash) per image through the REAL codec:
    * PNG-decode, bilinear-resize to a 9×8 grayscale thumbnail, bit
    * (r, c) = [px(r, c) > px(r, c+1)] packed as two 32-bit halves —
    * the standard perceptual near-dup signature (row-local per image,
    * a projection off the scan). The generator→PNG→decode path is
    * lossless and the resize arithmetic is replayed term-for-term by
    * the oracle, so a codec or resize regression breaks the hash.
    */
  def phash(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media
      .select(col("media_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, png) =>
        val (w, h, gray) = decodePng(png)
        val t = bilinearResize(gray, w, h, 9, 8)
        def px(r: Int, c: Int): Int = t(r * 9 + c) & 0xff
        var hi = 0L; var lo = 0L
        var b = 0
        while (b < 64) {
          val r = b / 8; val c = b % 8
          val bit = if (px(r, c) > px(r, c + 1)) 1L else 0L
          if (b < 32) hi += bit << (31 - b) else lo += bit << (63 - b)
          b += 1
        }
        (id, hi, lo)
      })
      .toDF("media_id", "ph_hi", "ph_lo")
  }

  /** Near-dup pairs over a 64-bit row-local signature split into two
    * 32-bit halves (`hiCol`/`loCol` on `sig` alongside `media_id`):
    * band into 4×16-bit chunks, candidates = signatures sharing any
    * chunk, verify popcount(xor) ≤ maxHamming — the dedup_simhash_pairs
    * configuration ([[Dedup.hammingPairs]]).
    *
    * Scale shape (r17, the hash_embed array-packed lesson applied to
    * the pair-stream class): the banded join runs over DISTINCT
    * signatures only, so candidate volume scales with signature
    * diversity, never with duplication — identical-signature cliques
    * (the dominant mass of a near-dup corpus: every exact re-encode,
    * every replica) are expanded ONLY at output, where they are the
    * answer and hence inherently output-sized. Each inter-signature
    * pair is emitted once, in its lowest shared chunk, with no
    * `distinct()` over the candidate stream. Measured at the 500k-doc
    * decade: the row-banded form exhausted the spill disk (≥36 GB, cut
    * at ≥35 min, r16); this form's candidate scan is bounded by
    * distinct-sig collisions alone.
    */
  private def sigPairs64(sig: DataFrame, hiCol: String, loCol: String, maxHamming: Int): DataFrame = {
    // decode/fingerprint is the expensive subtree and fans out below —
    // eager-checkpoint (gate functions return before execution, so
    // persist/unpersist can never bracket it; CLAUDE.md precedent)
    val s = sig.select(col("media_id"), col(hiCol).as("hi"), col(loCol).as("lo")).localCheckpoint()
    val sigs = s.groupBy(col("hi"), col("lo")).agg(min(col("media_id")).as("rep"))
    // membership: media_id -> its signature's representative (rep is
    // unique per distinct signature, so rep order is a total order on
    // signatures). Reused by the intra expansion and both inter sides.
    val mem = s.join(sigs, Seq("hi", "lo")).select(col("rep"), col("media_id")).localCheckpoint()
    val spark = sig.sparkSession
    import spark.implicits._
    val sigPairs = Dedup
      .hammingPairs(
        sigs.select(col("rep"), col("hi"), col("lo")).as[(Long, Long, Long)].map { case (r, hi, lo) =>
          r -> Dedup.chunks16(hi, lo)
        },
        maxHamming
      )
      .toDF("rep_a", "rep_b", "hamming")
    // expansion back to media pairs: cliques (hamming 0 by identity)
    // plus the cross product of the two cliques of each qualifying
    // signature pair — both are the answer set itself. The merge hints
    // are LOAD-BEARING: as broadcast joins the two expansions fuse
    // into ONE codegen pipeline, and codegen cannot suspend inside a
    // join's match loop — a single sig-pair row of two large cliques
    // (m_a × m_b) materializes its whole cross product COPIED into the
    // stage's row buffer before processNext can return (measured: 8930
    // × 5140 ≈ 46M buffered rows per outer row, OOM at any heap).
    // Sort-merge joins put an exchange between the two expansions, so
    // per-row buffering is bounded by ONE clique's member list.
    val intra = mem
      .as("x")
      .join(
        mem.as("y").hint("merge"),
        col("x.rep") === col("y.rep") && col("x.media_id") < col("y.media_id")
      )
      .select(col("x.media_id").as("media_a"), col("y.media_id").as("media_b"), lit(0L).as("hamming"))
    val inter = sigPairs
      .join(mem.select(col("rep").as("rep_a"), col("media_id").as("id_a")).hint("merge"), Seq("rep_a"))
      .join(mem.select(col("rep").as("rep_b"), col("media_id").as("id_b")).hint("merge"), Seq("rep_b"))
      .select(
        least(col("id_a"), col("id_b")).as("media_a"),
        greatest(col("id_a"), col("id_b")).as("media_b"),
        col("hamming")
      )
    intra.unionByName(inter)
  }

  /** Image near-dup pairs: the dHash banded through [[sigPairs64]]. */
  def phashPairs(media: DataFrame, maxHamming: Int = 3): DataFrame =
    sigPairs64(phash(media), "ph_hi", "ph_lo", maxHamming)

  /** Oracle twin of [[phashPairs]]: the PNG raster is replayed from the
    * generating text (lossless codec), the bilinear resize term-for-term
    * in the same association order, round as floor(x+0.5) on both
    * engines (Java Math.round; native round() half-cases differ —
    * CLAUDE.md), then the simhash-style chunk/hamming chain.
    */
  val phashPairsSql: String = {
    def pxAt(y: String, x: String) =
      s"CAST(unicode(substr(text, CAST((($y) * w + ($x)) % len AS INT) + 1, 1)) % 256 AS DOUBLE)"
    val interp =
      s"(1.0e0 - fy) * ((1.0e0 - fx) * ${pxAt("y0", "x0")} + fx * ${pxAt("y0", "x1")}) + " +
        s"fy * ((1.0e0 - fx) * ${pxAt("y1", "x0")} + fx * ${pxAt("y1", "x1")})"
    "WITH d AS MATERIALIZED (SELECT doc_id, text, length(text) AS len, " +
      "length(text) % 64 + 1 AS w, length(text) % 48 + 1 AS h FROM documents WHERE length(text) > 0), " +
      "s1 AS (SELECT doc_id, text, len, w, h, gj.j AS j, gi.i AS i, " +
      "(j + 0.5e0) * h / 8 - 0.5e0 AS sy, (i + 0.5e0) * w / 9 - 0.5e0 AS sx " +
      "FROM d, generate_series(0, 7) gj(j), generate_series(0, 8) gi(i)), " +
      "s2 AS (SELECT *, greatest(0, least(h - 1, CAST(floor(sy) AS INT))) AS y0, " +
      "greatest(0, least(w - 1, CAST(floor(sx) AS INT))) AS x0 FROM s1), " +
      "s3 AS (SELECT *, least(h - 1, y0 + 1) AS y1, least(w - 1, x0 + 1) AS x1, " +
      "greatest(0.0e0, least(1.0e0, sy - y0)) AS fy, greatest(0.0e0, least(1.0e0, sx - x0)) AS fx FROM s2), " +
      s"px AS MATERIALIZED (SELECT doc_id, j, i, CAST(greatest(0.0e0, least(255.0e0, floor(($interp) + 0.5e0))) AS BIGINT) AS v FROM s3), " +
      "bits AS (SELECT a.doc_id AS doc_id, a.j * 8 + a.i AS b, CASE WHEN a.v > b2.v THEN 1 ELSE 0 END AS bit " +
      "FROM px a JOIN px b2 ON b2.doc_id = a.doc_id AND b2.j = a.j AND b2.i = a.i + 1 WHERE a.i < 8), " +
      "sig AS MATERIALIZED (SELECT doc_id, " +
      "CAST(sum(CASE WHEN b < 32 THEN bit * CAST(power(2.0e0, 31 - b) AS BIGINT) ELSE 0 END) AS BIGINT) AS ph_hi, " +
      "CAST(sum(CASE WHEN b >= 32 THEN bit * CAST(power(2.0e0, 63 - b) AS BIGINT) ELSE 0 END) AS BIGINT) AS ph_lo " +
      "FROM bits GROUP BY doc_id), " +
      "chunks AS MATERIALIZED (SELECT doc_id, g.ci AS ci, CASE g.ci WHEN 0 THEN ph_hi // 65536 WHEN 1 THEN ph_hi % 65536 " +
      "WHEN 2 THEN ph_lo // 65536 ELSE ph_lo % 65536 END AS chunk FROM sig, generate_series(0, 3) g(ci)), " +
      "cand AS MATERIALIZED (SELECT DISTINCT a.doc_id AS media_a, b.doc_id AS media_b FROM chunks a " +
      "JOIN chunks b ON a.ci = b.ci AND a.chunk = b.chunk AND a.doc_id < b.doc_id) " +
      "SELECT media_a, media_b, hamming FROM (SELECT c.media_a, c.media_b, " +
      "CAST(bit_count(xor(sa.ph_hi, sb.ph_hi)) + bit_count(xor(sa.ph_lo, sb.ph_lo)) AS BIGINT) AS hamming " +
      "FROM cand c JOIN sig sa ON sa.doc_id = c.media_a JOIN sig sb ON sb.doc_id = c.media_b) WHERE hamming <= 3"
  }

  /** Text-derived WAV corpus for fingerprint near-dup: sample t of doc
    * d is s(t) = ((cp(t mod len)·131 + t·17) mod 2003) − 1001 where cp
    * is the codepoint of the text at char t mod len — duplicate TEXTS
    * yield identical clips and near-dup texts mostly-identical clips
    * (the [[pngMedia]] content-derived-pixels pattern applied to
    * audio); n = len mod 256 + 16, packed as a REAL RIFF/WAVE payload.
    */
  def wavMediaText(spark: SparkSession, dir: String): DataFrame =
    wavMediaFromDocs(Tables.documents(spark, dir))

  def wavMediaFromDocs(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .filter(length(col("text")) > 0)
      .select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .mapPartitions(_.map { case (id, text) =>
        val cps = text.codePoints().toArray
        val n = cps.length % 256 + 16
        val samples = Array.tabulate(n) { t =>
          (((cps(t % cps.length).toLong * 131 + t.toLong * 17) % 2003) - 1001).toShort
        }
        (id, encodeWav(samples))
      })
      .toDF("media_id", "payload")
  }

  /** WAV corpus with PLANTED silence for the VAD gate: every third
    * 32-sample frame (frame % 3 == 0) is exact digital silence, the
    * rest carry the deterministic pseudo-noise ((id·131 + t·17) mod
    * 2003) − 1001; clip length (id % 7 + 4) frames so segment counts
    * vary per media. Packed through the REAL RIFF/WAVE encoder — the
    * oracle replays the generator, so a codec round-trip regression
    * breaks the hash (mm_wav_features precedent).
    */
  def vadMediaFromIds(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .select(col("doc_id"))
      .as[Long]
      .mapPartitions(_.map { id =>
        val n = (id % 7 + 4).toInt * 32
        val samples = Array.tabulate(n) { t =>
          if ((t / 32) % 3 == 0) 0.toShort
          else (((id * 131 + t.toLong * 17) % 2003) - 1001).toShort
        }
        (id, encodeWav(samples))
      })
      .toDF("media_id", "payload")
  }

  /** Energy-based voice-activity detection — the audio-curation
    * screen that drops silent stretches before transcription or
    * feature extraction: per 32-sample frame the EXACT integer energy
    * Σv², a frame is active iff energy > 0 (the plant is exact
    * digital silence — a real deployment thresholds against a noise
    * floor, same integer compare), and active runs collapse to
    * segments via one lag window (gaps-and-islands). Per media:
    * frame/active/segment counts + total energy, all BIGINT. Decode
    * is the row-local codec kernel; the frame aggregation and segment
    * window share the media_id partitioning.
    */
  def audioVad(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    // row-local kernel (r17, the charset-codec precedent): every output
    // column is a per-media integer over that media's own samples, so
    // the posexplode → (media, frame) aggregation → lag window →
    // final aggregation chain (2 exchanges + a window sort of a
    // samples-sized stream) collapses into the SAME pass that already
    // decodes the WAV. Exact BIGINT arithmetic, identical values;
    // KernelPropertySpec pins kernel ≡ declarative on the gate corpus.
    // Plan: mapPartitions only — zero exchanges (was 2 + window).
    media
      .select(col("media_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, wav) =>
        val s = decodeWav(wav)
        if (s.isEmpty) None // declarative form emitted no row for an empty clip
        else {
        val nFrames = (s.length + 31) / 32
        var f = 0
        var nActive = 0L
        var nSegments = 0L
        var totEnergy = 0L
        var prevAct = false
        while (f < nFrames) {
          var e = 0L
          var t = f * 32
          val end = math.min(t + 32, s.length)
          while (t < end) { val v = s(t).toLong; e += v * v; t += 1 }
          val act = e > 0L
          if (act) {
            nActive += 1L
            if (!prevAct) nSegments += 1L
          }
          totEnergy += e
          prevAct = act
          f += 1
        }
        Some((id, nFrames.toLong, nActive, nSegments, totEnergy))
        }
      })
      .toDF("media_id", "n_frames", "n_active", "n_segments", "tot_energy")
  }

  val audioVadSql: String =
    "WITH d AS (SELECT doc_id, (doc_id % 7 + 4) * 32 AS n FROM documents), " +
      "s AS (SELECT doc_id, g.t AS t, CASE WHEN (g.t // 32) % 3 = 0 THEN 0 " +
      "ELSE (doc_id * 131 + g.t * 17) % 2003 - 1001 END AS v " +
      "FROM d, generate_series(0, 319) g(t) WHERE g.t < n), " +
      "fr AS (SELECT doc_id, t // 32 AS f, sum(CAST(v AS BIGINT) * CAST(v AS BIGINT)) AS e FROM s GROUP BY 1, 2), " +
      "a AS (SELECT doc_id, f, e, (e > 0) AS act FROM fr), " +
      "seg AS (SELECT *, CASE WHEN act AND NOT coalesce(lag(act) OVER (PARTITION BY doc_id ORDER BY f), false) " +
      "THEN 1 ELSE 0 END AS ns FROM a) " +
      "SELECT doc_id AS media_id, count(*) AS n_frames, " +
      "CAST(sum(CASE WHEN act THEN 1 ELSE 0 END) AS BIGINT) AS n_active, " +
      "CAST(sum(ns) AS BIGINT) AS n_segments, CAST(sum(e) AS BIGINT) AS tot_energy " +
      "FROM seg GROUP BY doc_id"

  private val fpFrames = 33
  private val fpFrameLen = 8

  /** 64-bit audio fingerprint through the REAL javax.sound codec — the
    * Haitsma–Kalker (2002, "A highly robust audio fingerprinting
    * system") shape on an exact integer filterbank: the clip
    * (truncated / zero-padded to 33 frames × 8 samples) yields per
    * frame two INTEGER band energies — E1 = Σ v² (total) and
    * E2 = Σ (Δv)² (high band; Δ is a one-tap high-pass) — and bit
    * (f, band) is the sign of the energy time-delta
    * [E_band(f) > E_band(f−1)] for f = 1..32: 2 bands × 32 frame steps
    * = 64 bits. All comparisons are on exact BIGINT sums, so
    * cross-engine parity has NO float sign-flip surface at near-zero
    * deltas (the reason the bands aren't DFT magnitudes here).
    * Row-local: a projection off the scan.
    */
  def wavFingerprint(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media
      .select(col("media_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, wav) =>
        val s = decodeWav(wav)
        val n = fpFrames * fpFrameLen
        val v = Array.tabulate(n)(t => if (t < s.length) s(t).toLong else 0L)
        val e1 = new Array[Long](fpFrames)
        val e2 = new Array[Long](fpFrames)
        var f = 0
        while (f < fpFrames) {
          var t = f * fpFrameLen
          while (t < (f + 1) * fpFrameLen) {
            e1(f) += v(t) * v(t)
            if (t % fpFrameLen != 0) { val d = v(t) - v(t - 1); e2(f) += d * d }
            t += 1
          }
          f += 1
        }
        var hi = 0L; var lo = 0L
        f = 1
        while (f < fpFrames) {
          val b1 = 2 * (f - 1)
          val bit1 = if (e1(f) > e1(f - 1)) 1L else 0L
          val bit2 = if (e2(f) > e2(f - 1)) 1L else 0L
          if (b1 < 32) hi += bit1 << (31 - b1) else lo += bit1 << (63 - b1)
          if (b1 + 1 < 32) hi += bit2 << (31 - (b1 + 1)) else lo += bit2 << (63 - (b1 + 1))
          f += 1
        }
        (id, hi, lo)
      })
      .toDF("media_id", "fp_hi", "fp_lo")
  }

  /** Audio near-dup pairs: the fingerprint banded through
    * [[sigPairs64]] — the mm_phash_pairs machinery applied to the
    * audio modality.
    */
  def wavFpPairs(media: DataFrame, maxHamming: Int = 3): DataFrame =
    sigPairs64(wavFingerprint(media), "fp_hi", "fp_lo", maxHamming)

  /** Oracle twin of [[wavFpPairs]]: the PCM16 codec is lossless, so
    * the sample formula is replayed from the generating text, band
    * energies are the same exact BIGINT sums (lag window for Δv), bits
    * pack via power-of-two weights (phash precedent), then the
    * chunk/hamming chain. A codec, header, or framing regression moves
    * Spark's bits off the replayed formula and breaks the hash.
    */
  val wavFpPairsSql: String = {
    val nTot = fpFrames * fpFrameLen
    "WITH d AS MATERIALIZED (SELECT doc_id, text, length(text) AS len, length(text) % 256 + 16 AS n " +
      "FROM documents WHERE length(text) > 0), " +
      s"sm AS (SELECT doc_id, g.t AS t, CASE WHEN g.t < n THEN " +
      "(unicode(substr(text, CAST(g.t % len AS INT) + 1, 1)) * 131 + g.t * 17) % 2003 - 1001 ELSE 0 END AS v " +
      s"FROM d, generate_series(0, ${nTot - 1}) g(t)), " +
      "lg AS (SELECT doc_id, t, v, lag(v) OVER (PARTITION BY doc_id ORDER BY t) AS pv FROM sm), " +
      s"en AS (SELECT doc_id, t // $fpFrameLen AS f, CAST(sum(v * v) AS BIGINT) AS e1, " +
      s"CAST(sum(CASE WHEN t % $fpFrameLen <> 0 THEN (v - pv) * (v - pv) ELSE 0 END) AS BIGINT) AS e2 " +
      s"FROM lg GROUP BY doc_id, t // $fpFrameLen), " +
      "bits AS (SELECT a.doc_id AS doc_id, 2 * (a.f - 1) AS b1, " +
      "CASE WHEN a.e1 > p.e1 THEN 1 ELSE 0 END AS bit1, " +
      "CASE WHEN a.e2 > p.e2 THEN 1 ELSE 0 END AS bit2 " +
      "FROM en a JOIN en p ON p.doc_id = a.doc_id AND p.f = a.f - 1), " +
      "sig AS MATERIALIZED (SELECT doc_id, " +
      "CAST(sum(CASE WHEN b1 < 32 THEN bit1 * CAST(power(2.0e0, 31 - b1) AS BIGINT) ELSE 0 END + " +
      "CASE WHEN b1 + 1 < 32 THEN bit2 * CAST(power(2.0e0, 30 - b1) AS BIGINT) ELSE 0 END) AS BIGINT) AS fp_hi, " +
      "CAST(sum(CASE WHEN b1 >= 32 THEN bit1 * CAST(power(2.0e0, 63 - b1) AS BIGINT) ELSE 0 END + " +
      "CASE WHEN b1 + 1 >= 32 THEN bit2 * CAST(power(2.0e0, 62 - b1) AS BIGINT) ELSE 0 END) AS BIGINT) AS fp_lo " +
      "FROM bits GROUP BY doc_id), " +
      "chunks AS MATERIALIZED (SELECT doc_id, g.ci AS ci, CASE g.ci WHEN 0 THEN fp_hi // 65536 WHEN 1 THEN fp_hi % 65536 " +
      "WHEN 2 THEN fp_lo // 65536 ELSE fp_lo % 65536 END AS chunk FROM sig, generate_series(0, 3) g(ci)), " +
      "cand AS MATERIALIZED (SELECT DISTINCT a.doc_id AS media_a, b.doc_id AS media_b FROM chunks a " +
      "JOIN chunks b ON a.ci = b.ci AND a.chunk = b.chunk AND a.doc_id < b.doc_id) " +
      "SELECT media_a, media_b, hamming FROM (SELECT c.media_a, c.media_b, " +
      "CAST(bit_count(xor(sa.fp_hi, sb.fp_hi)) + bit_count(xor(sa.fp_lo, sb.fp_lo)) AS BIGINT) AS hamming " +
      "FROM cand c JOIN sig sa ON sa.doc_id = c.media_a JOIN sig sb ON sb.doc_id = c.media_b) WHERE hamming <= 3"
  }

  /** Real resize: PNG-decode, bilinear-resample the raster, re-encode. */
  def resize(media: DataFrame, w: Int, h: Int): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media
      .select(col("media_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, png) =>
        val (sw, sh, gray) = decodePng(png)
        (id, encodePng(bilinearResize(gray, sw, sh, w, h), w, h))
      })
      .toDF("media_id", "payload")
      .withColumn(
        "meta",
        struct(lit(w).as("width"), lit(h).as("height"), lit("image/png").as("format"), lit(1).as("n_frames"))
      )
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "mm_features" -> { (s, dir) =>
      // ASCII gate (char length == byte length): the oracle states the
      // payload's BYTE stats via per-CHARACTER codepoints, valid only
      // when 1 char = 1 byte. Excluded identically on both engines.
      decodeFeatures(syntheticMedia(s, dir)).select(
        col("media_id"),
        col("n_bytes"),
        Dsp.round6(col("mean_byte")).as("mean_byte"),
        col("byte_range")
      )
    },
    "mm_png_features" -> { (s, dir) => pngFeatures(pngMedia(s, dir)) },
    "mm_wav_features" -> { (s, dir) => wavFeatures(wavMedia(s, dir)) },
    "mm_audio_vad" -> { (s, dir) => audioVad(vadMediaFromIds(Tables.documents(s, dir))) },
    "mm_wav_spec" -> { (s, dir) => wavSpectral(wavMedia(s, dir)) },
    "mm_frames" -> { (s, dir) => frameSample(syntheticMedia(s, dir), everyK = 2) },
    "mm_video_frames" -> { (s, dir) => videoFrames(videoMedia(s, dir)) },
    "mm_phash_pairs" -> { (s, dir) => phashPairs(pngMedia(s, dir)) },
    "mm_wav_fp_pairs" -> { (s, dir) => wavFpPairs(wavMediaText(s, dir)) }
  )

  /** The stub decode's per-byte stats ARE SQL-expressible here because
    * the synthetic payload is UTF-8 of pure-ASCII text: byte values =
    * `unicode()` of each character. A real codec would drop this back
    * to a rows-only check.
    */
  def oracleSql: Map[String, String] = Map(
    "mm_features" ->
      ("WITH ch AS (SELECT doc_id AS media_id, unicode(u.c) AS v " +
        "FROM documents, unnest(string_split(text, '')) u(c) WHERE length(text) = strlen(text)) " +
        "SELECT media_id, CAST(count(*) AS DOUBLE) AS n_bytes, " +
        Dsp.round6Sql("sum(CAST(v AS DOUBLE)) / count(*)") + " AS mean_byte, " +
        "CAST(max(v) - min(v) AS DOUBLE) AS byte_range FROM ch GROUP BY media_id"),
    // PNG is lossless: decode(encode(pixels)) == pixels, so the oracle
    // states the pixel stats straight from the generating text
    "mm_png_features" ->
      ("WITH d AS (SELECT doc_id, text, length(text) AS len, " +
        "length(text) % 64 + 1 AS w, length(text) % 48 + 1 AS h FROM documents WHERE length(text) > 0), " +
        // constant-bound series (w≤64, h≤48 ⇒ w·h≤3072) filtered per row:
        // this DuckDB build rejects lateral column bounds in generate_series
        "px AS (SELECT doc_id, w, h, unicode(substr(text, CAST(g.k % len AS INT) + 1, 1)) % 256 AS v " +
        "FROM d, generate_series(0, 3071) g(k) WHERE g.k < w * h) " +
        "SELECT doc_id AS media_id, max(w) AS width, max(h) AS height, " +
        Dsp.round6Sql("CAST(sum(CAST(v AS BIGINT)) AS DOUBLE) / count(*)") + " AS mean_px, " +
        "CAST(min(v) AS BIGINT) AS min_px, CAST(max(v) AS BIGINT) AS max_px " +
        "FROM px GROUP BY doc_id"),
    // PCM16 is lossless too: the oracle replays the waveform formula
    "mm_wav_features" ->
      ("WITH d AS (SELECT doc_id, length(text) % 256 + 16 AS n FROM documents), " +
        "s AS (SELECT doc_id, (doc_id * 131 + g.t * 17) % 2003 - 1001 AS v " +
        "FROM d, generate_series(0, 270) g(t) WHERE g.t < n) " +
        "SELECT doc_id AS media_id, count(*) AS n_samples, " +
        Dsp.round6Sql("CAST(sum(CAST(v AS BIGINT)) AS DOUBLE) / count(*)") + " AS mean_pcm, " +
        "CAST(max(abs(v)) AS BIGINT) AS max_abs FROM s GROUP BY doc_id"),
    "mm_wav_spec" -> wavSpectralSql,
    "mm_audio_vad" -> audioVadSql,
    // every 2nd 64-hex-char (32-byte) frame of the payload (= utf-8
    // text); hex, not base64 — Spark's base64 may MIME-chunk. Constant
    // series bound: docs ≤ 2000 chars → hex ≤ 4000 chars
    "mm_frames" ->
      ("WITH b AS (SELECT doc_id AS media_id, upper(hex(CAST(text AS BLOB))) AS hx " +
        "FROM documents WHERE length(text) = strlen(text)) " +
        "SELECT media_id, g.i AS frame_idx, substr(hx, CAST(g.i * 64 + 1 AS INT), 64) AS frame_hex " +
        "FROM b, generate_series(0, 63) g(i) WHERE g.i % 2 = 0 AND g.i * 64 < length(hx)"),
    "mm_video_frames" -> videoFramesSql(),
    "mm_phash_pairs" -> phashPairsSql,
    "mm_wav_fp_pairs" -> wavFpPairsSql
  )
}
