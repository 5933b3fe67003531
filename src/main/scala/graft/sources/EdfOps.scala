package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Dsp, Signal}

/** Driver-contract entry for the EDF source: a deterministic
  * write→read round-trip over the event signal.
  *
  * Hash-checked (r5): the int16 quantization has a closed form — per
  * (recording, channel), slope s = (pmax−pmin)/65535, offset
  * o = pmin − s·(−32768), y = s·clamp(floor((x−o)/s + ½)) + o — because
  * the writer quantizes the phys range to header-ASCII-exact bounds
  * (Edf.physRange), so the DuckDB oracle replays the whole pipeline
  * without parsing a byte of EDF.
  */
object EdfOps {

  private val spr = 64

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "edf_roundtrip" -> { (s, dir) =>
      // distributed write→read round-trip: the sample axis splits into
      // 4 "recordings", each written as its own EDF file executor-side
      // (Edf.writeSpark — one action and no driver collect: each task
      // derives its recording's phys ranges from a local spool pass,
      // and nothing returns to the driver). readSpark then
      // reassembles the global sample index from the file names.
      val sig = Signal.long(s, dir)
      val len =
        sig.groupBy(col("channel")).agg(count(lit(1)).as("c")).agg(min(col("c"))).head().getLong(0)
      // up to 4 recordings, but never shorter than one data record each
      val nRecordings = math.max(1L, math.min(4L, len / spr))
      val per = (len / nRecordings / spr) * spr
      val recs = sig
        .filter(col("n") < per * nRecordings)
        .select(
          concat(lit("rec"), expr(s"CAST(n DIV $per AS BIGINT)")).as("recording"),
          col("channel"),
          pmod(col("n"), lit(per)).as("n"),
          col("x")
        )
      val tmp = Scratch.dir("edf_roundtrip")
      Edf.writeSpark(recs, tmp, fs = 100.0, samplesPerRecord = spr)
      Edf
        .readSpark(s, s"$tmp/*.edf")
        .withColumn("rec_idx", regexp_extract(col("src"), "rec(\\d+)\\.edf", 1).cast("bigint"))
        .select(
          col("channel"),
          (col("rec_idx") * per + col("n")).as("n"),
          Dsp.round6(col("x")).as("x")
        )
    },
    "edf_split" -> { (s, dir) =>
      // splitter round-trip: write ONE multi-channel EDF, split it into
      // two per-channel-group files (reference splitter, edf.py:780),
      // read the splits back. The split re-quantizes (its phys ranges
      // come from the already-quantized values), so the oracle is the
      // closed-form int16 quantization applied twice.
      val sig = Signal.long(s, dir)
      val len =
        sig.groupBy(col("channel")).agg(count(lit(1)).as("c")).agg(min(col("c"))).head().getLong(0)
      val per = (len / spr) * spr
      val recs = sig
        .filter(col("n") < per)
        .select(lit("rec0").as("recording"), col("channel"), col("n"), col("x"))
      val tmp = Scratch.dir("edf_split")
      Edf.writeSpark(recs, tmp, fs = 100.0, samplesPerRecord = spr)
      val src = s"$tmp/rec0.edf"
      val hdr = Edf.parseHeader(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(src)))
      val nCh = hdr.labels.length
      Edf.splitter(
        src,
        Seq((0 until nCh / 2).toSeq, (nCh / 2 until nCh).toSeq),
        Seq(s"$tmp/split_a.edf", s"$tmp/split_b.edf"),
        fs = 100.0
      )
      Edf
        .readSpark(s, s"$tmp/split_*.edf")
        .select(col("channel"), col("n"), Dsp.round6(col("x")).as("x"))
    },
    "edf_corpus" -> { (s, dir) =>
      // multi-recording corpus rehearsal — the 100 TB ingest path: a
      // fleet of EDF files → readSpark → partitioned parquet keyed by
      // (recording, channel) → analytics against the PRUNED partition
      // layout (PlanAuditSpec asserts the recording PartitionFilters
      // reach the scan). Every other DSP gate query reads the single
      // events-table adapter; this one exercises the real entry path.
      val sig = Signal.long(s, dir)
      val len =
        sig.groupBy(col("channel")).agg(count(lit(1)).as("c")).agg(min(col("c"))).head().getLong(0)
      val nRec = math.max(1L, math.min(10L, len / spr))
      val per = (len / nRec / spr) * spr
      val recs = sig
        .filter(col("n") < per * nRec)
        .select(
          concat(lit("rec"), expr(s"CAST(n DIV $per AS BIGINT)")).as("recording"),
          col("channel"),
          pmod(col("n"), lit(per)).as("n"),
          col("x")
        )
      val tmp = Scratch.dir("edf_corpus")
      Edf.writeSpark(recs, tmp, fs = 100.0, samplesPerRecord = spr)
      Edf
        .readSpark(s, s"$tmp/*.edf")
        .withColumn("recording", regexp_extract(col("src"), "(rec\\d+)\\.edf", 1))
        .select(col("recording"), col("channel"), col("n"), col("x"))
        .write
        .mode("overwrite")
        .partitionBy("recording", "channel")
        .parquet(s"$tmp/pq")
      s.read
        .parquet(s"$tmp/pq")
        .filter(col("recording").isin("rec0", s"rec${nRec - 1}"))
        .groupBy(col("recording"), col("channel"))
        .agg(
          count(lit(1)).as("n_samples"),
          Dsp.round6(avg(col("x"))).as("mean_x"),
          Dsp.round6(max(col("x"))).as("max_x")
        )
    }
  )

  /** One int16 quantize→decode pass as CTEs: phys-range floor/ceil to
    * header-ASCII precision, slope/offset, clamp(floor(·+½)) — emits
    * `<out>(channel, n, y)` from `<src>(channel, n, <xcol>)`.
    */
  private def quantCtes(src: String, xcol: String, tag: String, out: String): String =
    s"st$tag AS (SELECT channel, min($xcol) AS mn, " +
      s"greatest(max($xcol), min($xcol) + 1.0e-9) AS mx0 FROM $src GROUP BY channel), " +
      s"rng$tag AS (SELECT channel, " +
      "CASE WHEN abs(mn) < 1.0e3 THEN floor(mn * 1.0e3) / 1.0e3 ELSE floor(mn) END AS pmn, " +
      "CASE WHEN abs(mx0) < 1.0e3 THEN ceil(mx0 * 1.0e3) / 1.0e3 ELSE ceil(mx0) END AS pmx0 " +
      s"FROM st$tag), " +
      s"so$tag AS (SELECT channel, s, pmn - s * (-3.2768e4) AS o FROM (SELECT channel, pmn, " +
      s"(CASE WHEN pmx0 <= pmn THEN pmn + 1.0e-3 ELSE pmx0 END - pmn) / 6.5535e4 AS s FROM rng$tag)), " +
      s"$out AS (SELECT r.channel, r.n, q.s * CAST(greatest(-32768, least(32767, " +
      s"CAST(floor((r.$xcol - q.o) / q.s + 5.0e-1) AS BIGINT))) AS DOUBLE) + q.o AS y " +
      s"FROM $src r JOIN so$tag q ON r.channel = q.channel)"

  /** The quantization pipeline as SQL, literal-for-literal the writer's
    * arithmetic (Edf.physRange / writeSpark dig / Reader decode).
    */
  def oracleSql: Map[String, String] = Map(
    "edf_roundtrip" -> (
      s"${Signal.sigCte}, " +
        "cnts AS (SELECT channel, count(*) AS c FROM sig GROUP BY channel), " +
        "p1 AS (SELECT min(c) AS len FROM cnts), " +
        s"p2 AS (SELECT len, greatest(1, least(4, len // $spr)) AS nrec FROM p1), " +
        s"p3 AS (SELECT len, nrec, (len // nrec // $spr) * $spr AS per FROM p2), " +
        "recs AS (SELECT s.channel, s.n, s.n // p3.per AS rec, s.x FROM sig s, p3 " +
        "WHERE s.n < p3.per * p3.nrec), " +
        "st AS (SELECT rec, channel, min(x) AS mn, " +
        "greatest(max(x), min(x) + 1.0e-9) AS mx0 FROM recs GROUP BY rec, channel), " +
        "rng AS (SELECT rec, channel, " +
        "CASE WHEN abs(mn) < 1.0e3 THEN floor(mn * 1.0e3) / 1.0e3 ELSE floor(mn) END AS pmn, " +
        "CASE WHEN abs(mx0) < 1.0e3 THEN ceil(mx0 * 1.0e3) / 1.0e3 ELSE ceil(mx0) END AS pmx0 " +
        "FROM st), " +
        "so0 AS (SELECT rec, channel, pmn, " +
        "(CASE WHEN pmx0 <= pmn THEN pmn + 1.0e-3 ELSE pmx0 END - pmn) / 6.5535e4 AS s FROM rng), " +
        "so AS (SELECT rec, channel, s, pmn - s * (-3.2768e4) AS o FROM so0), " +
        "dec AS (SELECT r.channel, r.n, so.s * CAST(greatest(-32768, least(32767, " +
        "CAST(floor((r.x - so.o) / so.s + 5.0e-1) AS BIGINT))) AS DOUBLE) + so.o AS y " +
        "FROM recs r JOIN so ON r.rec = so.rec AND r.channel = so.channel) " +
        s"SELECT channel, n, ${Dsp.round6Sql("y")} AS x FROM dec"
    ),
    "edf_corpus" -> (
      s"${Signal.sigCte}, " +
        "cnts AS (SELECT channel, count(*) AS c FROM sig GROUP BY channel), " +
        "p1 AS (SELECT min(c) AS len FROM cnts), " +
        s"p2 AS (SELECT len, greatest(1, least(10, len // $spr)) AS nrec FROM p1), " +
        s"p3 AS (SELECT len, nrec, (len // nrec // $spr) * $spr AS per FROM p2), " +
        "recs AS (SELECT s.channel, s.n // p3.per AS rec, s.x FROM sig s, p3 " +
        "WHERE s.n < p3.per * p3.nrec), " +
        "st AS (SELECT rec, channel, min(x) AS mn, " +
        "greatest(max(x), min(x) + 1.0e-9) AS mx0 FROM recs GROUP BY rec, channel), " +
        "rng AS (SELECT rec, channel, " +
        "CASE WHEN abs(mn) < 1.0e3 THEN floor(mn * 1.0e3) / 1.0e3 ELSE floor(mn) END AS pmn, " +
        "CASE WHEN abs(mx0) < 1.0e3 THEN ceil(mx0 * 1.0e3) / 1.0e3 ELSE ceil(mx0) END AS pmx0 " +
        "FROM st), " +
        "so0 AS (SELECT rec, channel, pmn, " +
        "(CASE WHEN pmx0 <= pmn THEN pmn + 1.0e-3 ELSE pmx0 END - pmn) / 6.5535e4 AS s FROM rng), " +
        "so AS (SELECT rec, channel, s, pmn - s * (-3.2768e4) AS o FROM so0), " +
        "dec AS (SELECT r.rec, r.channel, so.s * CAST(greatest(-32768, least(32767, " +
        "CAST(floor((r.x - so.o) / so.s + 5.0e-1) AS BIGINT))) AS DOUBLE) + so.o AS y " +
        "FROM recs r JOIN so ON r.rec = so.rec AND r.channel = so.channel) " +
        "SELECT 'rec' || CAST(d.rec AS VARCHAR) AS recording, d.channel, " +
        s"count(*) AS n_samples, ${Dsp.round6Sql("avg(y)")} AS mean_x, " +
        s"${Dsp.round6Sql("max(y)")} AS max_x " +
        "FROM dec d, p2 WHERE d.rec IN (0, p2.nrec - 1) GROUP BY d.rec, d.channel"
    ),
    "edf_split" -> (
      s"${Signal.sigCte}, " +
        "cnts AS (SELECT channel, count(*) AS c FROM sig GROUP BY channel), " +
        s"p1 AS (SELECT (min(c) // $spr) * $spr AS per FROM cnts), " +
        "recs AS MATERIALIZED (SELECT s.channel, s.n, s.x FROM sig s, p1 WHERE s.n < p1.per), " +
        quantCtes("recs", "x", "1", "dec1") + ", " +
        quantCtes("dec1", "y", "2", "dec2") + " " +
        s"SELECT channel, n, ${Dsp.round6Sql("y")} AS x FROM dec2"
    )
  )
}
