package graft.sources

import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream, DataOutputStream, FileOutputStream}
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}

/** EDF (European Data Format) reader/writer.
  *
  * Format re-implemented from the public EDF specification (Kemp et al.,
  * edfplus.info): 256-byte fixed header + 256 bytes per signal of ASCII
  * fields, then data records of little-endian int16 samples per signal,
  * mapped to physical units by the per-signal linear gain
  * slope = (physMax−physMin)/(digMax−digMin), offset = physMin −
  * slope·digMin — the same mapping the reference applies
  * (openseize `file_io/edf.py:317` Reader._decipher).
  *
  * Spark integration: `readSpark` parallelizes at file granularity via
  * `binaryFiles` (a 100 TB EEG corpus is thousands of recordings — file
  * parallelism is the natural partitioning; per-file record parsing
  * streams inside the executor). `write` is a driver-side sink like the
  * reference's Writer, `writeSpark` its one-file-per-recording executor
  * form, plus a `splitter` producing per-channel-group files
  * (edf.py:780).
  */
object Edf {

  final case class Header(
      nRecords: Int,
      recordDuration: Double,
      labels: Vector[String],
      physMin: Vector[Double],
      physMax: Vector[Double],
      digMin: Vector[Int],
      digMax: Vector[Int],
      samplesPerRecord: Vector[Int]
  ) {
    def nSignals: Int = labels.length
    def headerBytes: Int = 256 * (nSignals + 1)
    def recordBytes: Int = samplesPerRecord.sum * 2
    def slope(i: Int): Double = (physMax(i) - physMin(i)) / (digMax(i) - digMin(i))
    def offset(i: Int): Double = physMin(i) - slope(i) * digMin(i)
  }

  /** Quantize physical-range bounds to values whose 8-char ASCII header
    * field round-trips exactly: 3 decimals (floor for min / ceil for
    * max) below 1000 in magnitude, whole numbers above. This makes the
    * writer-side quantization and the reader-side decode use the
    * identical slope/offset (the raw min/max would silently truncate in
    * the header, leaving the writer and reader with different gains),
    * and gives the int16 round-trip a closed form a SQL oracle can
    * replay: y = s·clamp(floor((x−o)/s + ½)) + o.
    */
  def physFloor(v: Double): Double =
    if (math.abs(v) < 1000.0) math.floor(v * 1000.0) / 1000.0 else math.floor(v)

  def physCeil(v: Double): Double =
    if (math.abs(v) < 1000.0) math.ceil(v * 1000.0) / 1000.0 else math.ceil(v)

  /** (physMin, physMax) for a channel with raw range [mn, mx]. */
  def physRange(mn: Double, mx: Double): (Double, Double) = {
    val pmn = physFloor(mn)
    val pmx0 = physCeil(math.max(mx, mn + 1e-9))
    (pmn, if (pmx0 <= pmn) pmn + 0.001 else pmx0)
  }

  private def pad(s: String, n: Int): Array[Byte] = {
    val t = if (s.length > n) s.substring(0, n) else s + (" " * (n - s.length))
    t.getBytes(StandardCharsets.US_ASCII)
  }

  private def num(d: Double, n: Int): Array[Byte] = {
    val s = if (d == d.toLong.toDouble) d.toLong.toString else f"$d%.4f"
    pad(s, n)
  }

  /** Serialize the 256·(nSignals+1)-byte ASCII header. */
  private def writeHeader(out: DataOutputStream, hdr: Header): Unit = {
    val nCh = hdr.nSignals
    out.write(pad("0", 8))
    out.write(pad("graft patient", 80))
    out.write(pad("graft recording", 80))
    out.write(pad("01.01.24", 8))
    out.write(pad("00.00.00", 8))
    out.write(num(hdr.headerBytes.toDouble, 8))
    out.write(pad("", 44))
    out.write(num(hdr.nRecords.toDouble, 8))
    out.write(num(hdr.recordDuration, 8))
    out.write(pad(nCh.toString, 4))
    def field(n: Int, f: Int => String): Unit =
      (0 until nCh).foreach(i => out.write(pad(f(i), n)))
    field(16, i => hdr.labels(i))
    field(80, _ => "")
    field(8, _ => "uV")
    field(8, i => num(hdr.physMin(i), 8).map(_.toChar).mkString.trim)
    field(8, i => num(hdr.physMax(i), 8).map(_.toChar).mkString.trim)
    field(8, i => hdr.digMin(i).toString)
    field(8, i => hdr.digMax(i).toString)
    field(80, _ => "")
    field(8, i => hdr.samplesPerRecord(i).toString)
    field(32, _ => "")
  }

  /** Write one EDF file, the format both writers share: int16 full
    * scale, `spr` samples of every channel per record, each channel's
    * physical bounds from its raw (min, max) through [[physRange]].
    * `fill(r, rec)` puts record r's physical samples into `rec`
    * channel-major (`rec(i·spr + j)` is channel i's j-th sample of the
    * record); each record is quantized and written before the next is
    * asked for.
    */
  private def writeFile(
      path: String,
      labels: Seq[String],
      rawRanges: Seq[(Double, Double)],
      nRecords: Int,
      fs: Double,
      spr: Int
  )(fill: (Int, Array[Double]) => Unit): Header = {
    val nCh = labels.length
    val ranges = rawRanges.map { case (mn, mx) => physRange(mn, mx) }
    val hdr = Header(
      nRecords,
      spr / fs,
      labels.toVector,
      ranges.map(_._1).toVector,
      ranges.map(_._2).toVector,
      Vector.fill(nCh)(-32768),
      Vector.fill(nCh)(32767),
      Vector.fill(nCh)(spr)
    )
    val rec = new Array[Double](nCh * spr)
    val buf = ByteBuffer.allocate(hdr.recordBytes).order(ByteOrder.LITTLE_ENDIAN)
    val out = new DataOutputStream(new BufferedOutputStream(new FileOutputStream(path), 1 << 16))
    try {
      writeHeader(out, hdr)
      for (r <- 0 until hdr.nRecords) {
        fill(r, rec)
        buf.clear()
        for (i <- 0 until nCh) {
          val s = hdr.slope(i); val o = hdr.offset(i)
          var k = i * spr
          while (k < (i + 1) * spr) {
            // floor(v + ½), textually matching the SQL oracle (Math.round
            // deviates from it on one pathological sub-half double)
            val dig =
              math.max(-32768L, math.min(32767L, math.floor((rec(k) - o) / s + 0.5).toLong)).toInt
            buf.putShort(dig.toShort)
            k += 1
          }
        }
        out.write(buf.array(), 0, hdr.recordBytes)
      }
    } finally out.close()
    hdr
  }

  /** Write channels (label → samples) as one EDF file. Samples are
    * quantized to int16 over each channel's [min, max] physical range.
    */
  def write(
      path: String,
      channels: Seq[(String, Array[Double])],
      fs: Double,
      samplesPerRecord: Int = 256
  ): Header = {
    require(channels.nonEmpty)
    val len = channels.head._2.length
    require(channels.forall(_._2.length == len), "equal channel lengths required")
    val spr = samplesPerRecord
    require(len % spr == 0, s"length $len not a multiple of $spr")
    val arrays = channels.map(_._2).toArray
    val ranges = arrays.map(xs => (xs.min, xs.max)).toSeq
    writeFile(path, channels.map(_._1), ranges, len / spr, fs, spr) { (r, rec) =>
      for (i <- arrays.indices) System.arraycopy(arrays(i), r * spr, rec, i * spr, spr)
    }
  }

  /** Distributed EDF sink: one EDF file per `recording` group, written
    * EXECUTOR-side (reference Writer is file_io/edf.py:591; this is its
    * cluster shape — the driver-side [[write]] stays for small exports).
    *
    * ONE action over ONE evaluation of `sig`, as the reference Writer
    * consumes its producer once (under AQE that is two jobs: the
    * recording exchange's map stage, then the write). Rows (recording,
    * channel, n, x) are exchanged by recording and sorted by
    * (recording, n, channel), and each task streams one recording at a
    * time into an executor-local spool file of raw doubles (8 B per
    * sample, row order, so every data record is one contiguous spr·nCh
    * block) while tracking each channel's label, min and max. Only then are the recording's
    * physical ranges known: the header is written and the data records
    * are quantized from the spool one at a time, so task memory is
    * O(spr·nCh) at any recording length. The spool is deleted whether
    * or not the write succeeds. Parallelism = recordings, the natural
    * unit (a 100 TB corpus is thousands of recordings; one sequential
    * file each is an EDF format constraint). The bytes equal [[write]]'s
    * for the same channels in label order.
    *
    * Validation contract: a recording is written only if its channels
    * at n = 0 recur, in the same sorted order, at every n = 0..cnt−1,
    * each (channel, n) exactly once, and cnt is a multiple of
    * `samplesPerRecord`. Anything else (a gap or duplicate in n, unequal
    * channel lengths, a partial last record) fails the task with an
    * IllegalArgumentException before that recording's `.edf` is
    * created. Recordings that other tasks finished stay written.
    */
  def writeSpark(
      sig: DataFrame,
      outDir: String,
      fs: Double,
      samplesPerRecord: Int = 256
  ): Unit = {
    val spark = sig.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val spr = samplesPerRecord
    sig
      .select(col("recording"), col("channel"), col("n"), col("x"))
      .as[(String, String, Long, Double)]
      .repartition(col("recording"))
      .sortWithinPartitions(col("recording"), col("n"), col("channel"))
      .foreachPartition { (it: Iterator[(String, String, Long, Double)]) =>
        val rows = it.buffered
        while (rows.hasNext) writeRecording(rows, outDir, fs, spr)
      }
  }

  /** [[writeSpark]]'s per-recording step: consumes the rows of the
    * recording at the head of `rows` ((n, channel)-sorted) through a
    * spool, validates them, then writes `outDir/<recording>.edf`.
    */
  private def writeRecording(
      rows: scala.collection.BufferedIterator[(String, String, Long, Double)],
      outDir: String,
      fs: Double,
      spr: Int
  ): Unit = {
    val rec = rows.head._1
    def check(ok: Boolean, msg: => String): Unit =
      if (!ok) throw new IllegalArgumentException(s"recording $rec: $msg")
    val labels = ArrayBuffer.empty[String]
    val mins = ArrayBuffer.empty[Double]
    val maxs = ArrayBuffer.empty[Double]
    val spool = Files.createTempFile("graft_edf_", ".spool")
    try {
      var pos = 0L // rows spooled; row pos must be (n = pos / nCh, channel pos % nCh)
      val out = new DataOutputStream(new BufferedOutputStream(Files.newOutputStream(spool), 1 << 16))
      try while (rows.hasNext && rows.head._1 == rec) {
        val (_, ch, n, x) = rows.next()
        if (n == 0 && pos == labels.length) { // the n = 0 rows fix the channel list
          check(labels.isEmpty || labels.last != ch, s"channel $ch repeats n = 0")
          labels += ch; mins += x; maxs += x
        } else {
          val nCh = labels.length
          check(nCh > 0, s"n starts at $n, not 0")
          val i = (pos % nCh).toInt
          check(
            n == pos / nCh && ch == labels(i),
            s"($ch, n = $n) where (${labels(i)}, n = ${pos / nCh}) belongs: every channel needs " +
              "each n = 0..cnt-1 exactly once"
          )
          mins(i) = math.min(mins(i), x); maxs(i) = math.max(maxs(i), x)
        }
        out.writeDouble(x)
        pos += 1
      } finally out.close()
      val nCh = labels.length
      val recordRows = nCh * spr
      check(pos % recordRows == 0, s"equal per-channel lengths, multiple of $spr required")
      val nRecords = (pos / recordRows).toInt
      val block = new Array[Byte](recordRows * 8)
      val bb = ByteBuffer.wrap(block)
      Files.createDirectories(Paths.get(outDir))
      val in = new DataInputStream(new BufferedInputStream(Files.newInputStream(spool), 1 << 16))
      try writeFile(s"$outDir/$rec.edf", labels.toSeq, mins.zip(maxs).toSeq, nRecords, fs, spr) { (_, record) =>
        in.readFully(block)
        var k = 0 // spool row k of the block is sample k / nCh of channel k % nCh
        while (k < recordRows) { record((k % nCh) * spr + k / nCh) = bb.getDouble(8 * k); k += 1 }
      } finally in.close()
    } finally Files.deleteIfExists(spool)
  }

  /** Parse the ASCII header of an EDF byte array. */
  def parseHeader(bytes: Array[Byte]): Header = {
    def str(off: Int, n: Int) = new String(bytes, off, n, StandardCharsets.US_ASCII).trim
    val nSignals = str(252, 4).toInt
    val nRecords = str(236, 8).toInt
    val recDur = str(244, 8).toDouble
    def sigField(base: Int, width: Int): Vector[String] =
      (0 until nSignals).map(i => str(256 + base * nSignals + i * width, width)).toVector
    val labels = sigField(0, 16)
    val physMin = sigField(16 + 80 + 8, 8).map(_.toDouble)
    val physMax = sigField(16 + 80 + 8 + 8, 8).map(_.toDouble)
    val digMin = sigField(16 + 80 + 8 + 16, 8).map(_.toDouble.toInt)
    val digMax = sigField(16 + 80 + 8 + 24, 8).map(_.toDouble.toInt)
    val spr = sigField(16 + 80 + 8 + 32 + 80, 8).map(_.toInt)
    Header(nRecords, recDur, labels, physMin, physMax, digMin, digMax, spr)
  }

  /** Decode one file's bytes to (channel, n, x) triples. */
  def decode(bytes: Array[Byte]): Iterator[(String, Long, Double)] = {
    val hdr = parseHeader(bytes)
    val bb = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    for {
      r <- (0 until hdr.nRecords).iterator
      i <- hdr.labels.indices.iterator
      j <- (0 until hdr.samplesPerRecord(i)).iterator
    } yield {
      val off = hdr.headerBytes + r * hdr.recordBytes +
        hdr.samplesPerRecord.take(i).sum * 2 + j * 2
      val dig = bb.getShort(off).toDouble
      (hdr.labels(i), r.toLong * hdr.samplesPerRecord(i) + j, hdr.slope(i) * dig + hdr.offset(i))
    }
  }

  /** Distributed EDF read: one task per file, records parsed in
    * executors → DataFrame (src, channel, n, x).
    *
    * Header-directed (r5): only the data records overlapping the
    * requested per-channel sample range [start, stop) are read — the
    * stream seeks past everything before and stops after — and only the
    * selected channels are decoded (reference Reader.read(start, stop)
    * + channels, file_io/edf.py:317). Peak task memory is ONE data
    * record (Σspr·2 bytes), not the file, so recordings of any length
    * stream without the 2 GiB JVM array cap, and a time-slice query
    * over a TB-scale recording touches just the matching byte range.
    */
  def readSpark(
      spark: SparkSession,
      pathGlob: String,
      start: Long = 0L,
      stop: Long = Long.MaxValue,
      channels: Seq[String] = Nil
  ): DataFrame = {
    import spark.implicits._
    val chSet = channels.toSet
    spark.sparkContext
      .binaryFiles(pathGlob)
      .flatMap { case (name, pds) =>
        val in = new java.io.DataInputStream(
          new java.io.BufferedInputStream(pds.open(), 1 << 16)
        )
        val first = new Array[Byte](256)
        in.readFully(first)
        val nSignals = new String(first, 252, 4, StandardCharsets.US_ASCII).trim.toInt
        val rest = new Array[Byte](256 * nSignals)
        in.readFully(rest)
        val hdr = parseHeader(first ++ rest)
        val sel = hdr.labels.indices.filter(i => chSet.isEmpty || chSet(hdr.labels(i))).toArray
        // record span covering [start, stop) across the selected channels
        val spans = sel.map { i =>
          val spr = hdr.samplesPerRecord(i).toLong
          // clamp before the ceil-division: stop = Long.MaxValue (read
          // all) would overflow in (stop + spr - 1)
          val stopC = math.max(0L, math.min(stop, hdr.nRecords.toLong * spr))
          (start / spr, (stopC + spr - 1) / spr)
        }
        val rHi = if (spans.isEmpty) 0L else math.min(hdr.nRecords.toLong, spans.map(_._2).max)
        val rLo = if (spans.isEmpty) 0L else math.min(math.max(0L, spans.map(_._1).min), rHi)
        val chanOff = { // byte offset of each signal inside a record
          val o = new Array[Int](hdr.nSignals); var acc = 0
          for (i <- 0 until hdr.nSignals) { o(i) = acc; acc += hdr.samplesPerRecord(i) * 2 }
          o
        }
        if (rLo < rHi) in.skipNBytes(rLo * hdr.recordBytes) else ()
        val buf = new Array[Byte](hdr.recordBytes)
        var closed = false
        def closeIn(): Unit = if (!closed) { closed = true; in.close() }
        new Iterator[Iterator[(String, String, Long, Double)]] {
          private var r = rLo
          def hasNext: Boolean = {
            val h = r < rHi
            if (!h) closeIn()
            h
          }
          def next(): Iterator[(String, String, Long, Double)] = {
            in.readFully(buf)
            val bb = ByteBuffer.wrap(buf).order(ByteOrder.LITTLE_ENDIAN)
            val rec = r
            r += 1
            // lazy per record; consumed fully before the next record
            // overwrites buf (Iterator.flatten contract)
            sel.iterator.flatMap { i =>
              val spr = hdr.samplesPerRecord(i)
              val sl = hdr.slope(i); val o = hdr.offset(i)
              (0 until spr).iterator
                .map(j => (rec * spr + j, bb.getShort(chanOff(i) + 2 * j)))
                .filter { case (n, _) => n >= start && n < stop }
                .map { case (n, d) => (name, hdr.labels(i), n, sl * d + o) }
            }
          }
        }.flatten
      }
      .toDF("src", "channel", "n", "x")
  }

  /** Reference `splitter` (edf.py:780): split an EDF into per-channel-
    * group files.
    */
  def splitter(inPath: String, groups: Seq[Seq[Int]], outPaths: Seq[String], fs: Double): Unit = {
    val bytes = Files.readAllBytes(Paths.get(inPath))
    val hdr = parseHeader(bytes)
    val chans = decode(bytes).toSeq.groupBy(_._1).map { case (ch, rows) =>
      ch -> rows.sortBy(_._2).map(_._3).toArray
    }
    groups.zip(outPaths).foreach { case (idxs, out) =>
      val sel = idxs.map(i => hdr.labels(i) -> chans(hdr.labels(i)))
      write(out, sel, hdr.samplesPerRecord.head / hdr.recordDuration, hdr.samplesPerRecord.head)
    }
  }
}
