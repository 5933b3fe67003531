package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables

/** Structured-Streaming surface: the same declarative transforms run
  * over `readStream` sources; the batch twins below are oracle-checked
  * and the streaming execution is exercised in `StreamSpec` with a
  * memory source/sink.
  *
  * The reference's producer pipeline IS a pull-based stream; watermarked
  * event-time windows + stateful sessionization are the Spark-native
  * generalization (late data, exactly-once sinks) that openseize's
  * single-machine iteration cannot express.
  */
object StreamOps {

  /** Integral ns→µs event time (CLAUDE.md rule): ts_ns exceeds 2^53,
    * the double route loses up to ~256 ns — enough to flip a window
    * boundary, a join bound, or watermark GC. One audited spot.
    */
  private def eventTimeMicros: org.apache.spark.sql.Column =
    timestamp_micros(expr("ts_ns div 1000"))

  /** Hourly tumbling-window aggregate per event type. Works identically
    * on a batch DataFrame or a streaming one (unified API); bucket
    * arithmetic stays on epoch-nanos to avoid timezone semantics.
    */
  def windowedAgg(events: DataFrame): DataFrame =
    events
      // integral bucket (CLAUDE.md rule): ts_ns exceeds 2^53, the double
      // route rounds events within ~128 ns of an hour boundary into the
      // wrong bucket while the oracle's `//` stays exact
      .select(expr("ts_ns div 3600000000000").as("hour_bucket"), col("event_type"), col("value"))
      .groupBy(col("hour_bucket"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("sum_value"))

  /** Per-hour top-N most-active users — the "trending keys" analytic:
    * one (bucket, user) aggregation (map-side combined) shrinks the
    * stream to distinct keys per window, then a rank window partitioned
    * by the hour bucket over those aggregated rows (ties broken on
    * user_id — hash-deterministic on both engines). The window runs on
    * post-aggregation data: its partition size is bounded by distinct
    * users per hour, never raw events.
    */
  def windowTopN(events: DataFrame, n: Int = 3): DataFrame = {
    val counts = events
      .select(expr("ts_ns div 3600000000000").as("hour_bucket"), col("user_id"))
      .groupBy(col("hour_bucket"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("hour_bucket"))
      .orderBy(col("n_events").desc, col("user_id").asc)
    counts.withColumn("rk", row_number().over(w)).filter(col("rk") <= n)
  }

  /** Streaming half of [[windowTopN]]: the watermarked windowed count.
    * Structured Streaming does not chain a rank over a streaming
    * aggregate in one query (by design — the rank is non-incremental);
    * the production shape is this aggregate + a foreachBatch rank-and-
    * upsert into the serving sink, which is exactly what the eviction
    * spec drives. State = distinct (window, user) pairs below the
    * watermark — bounded and GC'd like windowedAggStream's.
    */
  def windowTopNStream(events: DataFrame): DataFrame =
    events
      .withColumn("ts", eventTimeMicros)
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))

  /** Watermarked streaming variant on a proper timestamp column. */
  def windowedAggStream(events: DataFrame): DataFrame =
    events
      .withColumn("ts", eventTimeMicros)
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))

  /** Streaming half of `events_anomaly` (the windowTopN split applied
    * to anomaly detection): the STREAM maintains watermarked per-type
    * hourly counts — state bounded by types × horizon, each bucket
    * emitted ONCE when the watermark closes it (append mode) — and the
    * trailing-z scoring runs over the emitted bucket store via
    * `SparkEntry.anomalyScore` (the identical aggregation the batch
    * gate uses, so batch ≡ stream is pinned by the shared code path;
    * the rank-like trailing window is non-incremental by design and
    * stays out of the streaming query). Bucket id = epoch-hour of the
    * window start, matching the batch twin's integral div bucketing.
    */
  def anomalyBucketsStream(events: DataFrame): DataFrame =
    events
      .withColumn("ts", eventTimeMicros)
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
      .select(
        col("event_type"),
        expr("unix_micros(window.start) * 1000 div 3600000000000").as("bucket"),
        col("cnt")
      )

  /** Streaming twin of `events_hopwin` — 1 h windows sliding every
    * 30 min as ONE watermarked aggregation on Spark's native hopping
    * window: the engine's internal per-event expansion is exactly the
    * batch gate's L/S = 2 window-start explode (SparkEntry scaladoc
    * noted the explode IS the streaming state key), so the state key
    * matches the batch form and state stays ≤ types × L/S ×
    * open-horizon windows. Each window is emitted ONCE when the
    * watermark passes its end (append mode). Output schema matches the
    * batch gate (win_start_us, event_type, n, sum_cents) so the
    * equality spec compares row-for-row; money rides exact cents.
    */
  def hopWinStream(events: DataFrame): DataFrame =
    events
      .withColumn("ts", eventTimeMicros)
      .withWatermark("ts", "1 hour")
      .withColumn("cents", expr("CAST(floor(value * 100 + 0.5e0) AS BIGINT)"))
      .groupBy(window(col("ts"), "1 hour", "30 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_cents"))
      .select(
        expr("unix_micros(window.start)").as("win_start_us"),
        col("event_type"),
        col("n"),
        col("sum_cents")
      )

  /** Watermarked stream-stream interval join — the streaming
    * generalization of `q9_range`: each purchase matches the same
    * user's views within the preceding `windowSec`. Both sides carry
    * watermarks and the join predicate bounds event-time distance, so
    * Spark can GC join state: a view older than the watermark minus
    * the window can never match a future purchase and is dropped from
    * the state store — bounded memory on an unbounded stream. Inner
    * join + both-side watermarks → append-mode output.
    */
  def viewPurchaseJoin(events: DataFrame, windowSec: Long = 3600L): DataFrame = {
    val base = events.select(
      col("event_id"),
      col("user_id"),
      col("event_type"),
      eventTimeMicros.as("ts")
    )
    val views = base
      .filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("ts").as("v_ts"))
      .withWatermark("v_ts", "2 hours")
    val purchases = base
      .filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id").as("p_user"), col("ts").as("p_ts"))
      .withWatermark("p_ts", "2 hours")
    purchases.join(
      views,
      expr(s"v_user = p_user AND v_ts >= p_ts - INTERVAL $windowSec SECONDS AND v_ts <= p_ts")
    )
  }

  /** Streaming twin of `events_attribution` (r14) — the last
    * events-family gate without one. The established stateful/rank
    * split: the STREAM half is a watermarked stream-stream interval
    * join (each purchase matches the same user's view/click touches
    * inside the `lookbackSec` lookback — the [[viewPurchaseJoin]]
    * machinery with the attribution predicate), emitting one
    * (p_id, p_cents, t_type, t_id, t_ts) row per credited touch in
    * append mode; the per-purchase credit ROLLUP
    * ([[attributionCredits]] — count + first/last rank windows, exact
    * BIGINT micros) runs over the emitted store downstream, because
    * rank windows can't ride a stream. Watermarks on both sides bound
    * join state: a touch older than watermark − lookback can never
    * credit a future purchase and is GC'd (spec asserts eviction).
    * Matches emit exactly once across ANY batch arrival order within
    * the watermark (spec drives a purchase-before-touch batch split).
    */
  def attributionStream(events: DataFrame, lookbackSec: Long = 86400L): DataFrame = {
    val base = events.select(
      col("event_id"),
      col("user_id"),
      col("event_type"),
      eventTimeMicros.as("ts"),
      col("value")
    )
    val touches = base
      .filter(col("event_type").isin("view", "click"))
      .select(
        col("user_id").as("t_user"),
        col("event_type").as("t_type"),
        col("event_id").as("t_id"),
        col("ts").as("t_ts")
      )
      .withWatermark("t_ts", "2 hours")
    val purchases = base
      .filter(col("event_type") === "purchase")
      .select(
        col("event_id").as("p_id"),
        col("user_id").as("p_user"),
        col("ts").as("p_ts"),
        expr("CAST(floor(value * 100 + 0.5e0) AS BIGINT)").as("p_cents")
      )
      .withWatermark("p_ts", "2 hours")
    purchases
      .join(
        touches,
        expr(
          s"t_user = p_user AND t_ts < p_ts AND t_ts >= p_ts - INTERVAL $lookbackSec SECONDS"
        )
      )
      .select(col("p_id"), col("p_cents"), col("t_type"), col("t_id"), col("t_ts"))
  }

  /** The rollup half of [[attributionStream]]: per-purchase touch
    * count + first/last ranks over the emitted store, then the
    * per-type credit table — the BATCH gate's own aggregation (exact
    * BIGINT micros, linear/first/last models), run downstream of the
    * stream because ranking windows can't ride one.
    */
  def attributionCredits(joined: DataFrame): DataFrame = {
    val wp = org.apache.spark.sql.expressions.Window.partitionBy(col("p_id"))
    joined
      .withColumn("n_t", count(lit(1)).over(wp))
      .withColumn("rk_f", row_number().over(wp.orderBy(col("t_ts").asc, col("t_id").asc)))
      .withColumn("rk_l", row_number().over(wp.orderBy(col("t_ts").desc, col("t_id").desc)))
      .groupBy(col("t_type"))
      .agg(
        count(lit(1)).as("n_touches"),
        sum(when(col("rk_f") === 1, 1L).otherwise(0L)).as("n_first"),
        sum(when(col("rk_l") === 1, 1L).otherwise(0L)).as("n_last"),
        sum(expr("(p_cents * 10000) div n_t")).as("linear_micros"),
        sum(when(col("rk_f") === 1, col("p_cents") * 10000L).otherwise(0L)).as("first_micros"),
        sum(when(col("rk_l") === 1, col("p_cents") * 10000L).otherwise(0L)).as("last_micros")
      )
  }

  /** Gap-based sessionization with per-key state
    * (flatMapGroupsWithState): events of one user belong to one session
    * while gaps stay under `gapNs`. Works on batch DataFrames (state
    * collapses to a per-key fold) and streams alike.
    */
  /** Shared gap fold: thread this batch's sorted timestamps through the
    * open session, emitting closed sessions as (user, start, last, n).
    */
  private def foldGaps(
      user: Long,
      open0: Option[(Long, Long, Int)],
      ts: Array[Long],
      gapNs: Long
  ): (Seq[(Long, Long, Long, Int)], Option[(Long, Long, Int)]) = {
    var open = open0
    val closed = scala.collection.mutable.ArrayBuffer[(Long, Long, Long, Int)]()
    for (t <- ts) {
      open = open match {
        // max(): a cross-batch late-but-admitted event (t < last) must
        // extend the count without REGRESSING the session end — else a
        // later close emits end_ns < start_ns and splits real sessions
        case Some((start, last, n)) if t - last <= gapNs => Some((start, math.max(last, t), n + 1))
        case Some((start, last, n)) =>
          closed += ((user, start, last, n))
          Some((t, t, 1))
        case None => Some((t, t, 1))
      }
    }
    (closed.toSeq, open)
  }

  def sessionize(events: DataFrame, gapNs: Long = 30L * 60 * 1000000000L, emitOpen: Boolean = true): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    // State is the open session only — (start, last, n) — O(1) per key
    // regardless of stream length. Each invocation sorts its own batch;
    // events older than the open session's last timestamp would be
    // late data and are folded in timestamp order within the batch.
    events
      .select(col("user_id"), col("ts_ns"))
      .as[(Long, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[(Long, Long, Int), (Long, Long, Long, Int)](
        OutputMode.Append,
        GroupStateTimeout.NoTimeout
      ) { (user: Long, rows: Iterator[(Long, Long)], state: GroupState[(Long, Long, Int)]) =>
        val (closed, open) = foldGaps(user, state.getOption, rows.map(_._2).toArray.sorted, gapNs)
        open.foreach(state.update)
        // batch mode sees all data at once: the trailing open session is
        // final, emit it; a true stream would hold it for the next batch
        val tail =
          if (emitOpen) open.map { case (s, l, n) => (user, s, l, n) }.iterator
          else Iterator.empty
        closed.iterator ++ tail
      }
      .toDF("user_id", "start_ns", "end_ns", "n_events")
  }

  /** Streaming sessionize with EVICTING state: same gap fold, but a
    * user idle past (last event + gap) relative to the watermark has
    * their open session closed-and-emitted via EventTimeTimeout and the
    * state row REMOVED — bounded state over unbounded key cardinality,
    * which the batch twin's NoTimeout variant never needs (it sees all
    * data at once). Without this, an unbounded user population grows
    * the state store forever even though each row is O(1).
    */
  def sessionizeStream(events: DataFrame, gapNs: Long = 30L * 60 * 1000000000L): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    events
      .withColumn("ts", eventTimeMicros)
      .withWatermark("ts", "10 minutes")
      .select(col("user_id"), col("ts_ns"), col("ts"))
      .as[(Long, Long, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[(Long, Long, Int), (Long, Long, Long, Int)](
        OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout
      ) { (user: Long, rows: Iterator[(Long, Long, java.sql.Timestamp)], state: GroupState[(Long, Long, Int)]) =>
        if (state.hasTimedOut) {
          // watermark passed last+gap: no future on-time event can
          // extend this session — finalize it and free the state row
          val out = state.getOption.map { case (s, l, n) => (user, s, l, n) }.iterator
          state.remove()
          out
        } else {
          val (closed, open) = foldGaps(user, state.getOption, rows.map(_._2).toArray.sorted, gapNs)
          open.foreach { st =>
            state.update(st)
            // ceil to ms: two floored terms could land the timeout up to
            // ~2 ms BEFORE last+gap, closing a session an on-time
            // boundary event should still extend
            state.setTimeoutTimestamp((st._2 + gapNs) / 1000000L + 1) // epoch ms
          }
          closed.iterator
        }
      }
      .toDF("user_id", "start_ns", "end_ns", "n_events")
  }

  // ---------------------------------------------------------------------
  // Streaming funnel
  // ---------------------------------------------------------------------

  /** (ts_ns, event_id) — the funnel's order key; (a < b) is the batch
    * twin's window ORDER BY ts_ns, event_id.
    */
  private def ordLt(a: (Long, Long), b: (Long, Long)): Boolean =
    a._1 < b._1 || (a._1 == b._1 && a._2 < b._2)

  private def ordMin(a: Option[(Long, Long)], b: (Long, Long)): Option[(Long, Long)] =
    Some(a.filter(x => ordLt(x, b)).getOrElse(b))

  /** Per-user funnel state: first view, first QUALIFIED click, first
    * qualified purchase (all (ts, id) order-minima), plus capped
    * buffers of not-yet-qualified clicks/purchases (events that arrived
    * before the view/click that could qualify them — a later-arriving
    * earlier view promotes them). lastNs drives the eviction timeout.
    */
  private type FunnelSt = (
      Option[(Long, Long)],
      Option[(Long, Long)],
      Option[(Long, Long)],
      Seq[(Long, Long)],
      Seq[(Long, Long)],
      Long
  )

  /** Out-of-order buffer cap: only events preceding their qualifying
    * stage in ARRIVAL order but following it in EVENT order need
    * buffering, so the buffers hold the pre-first-view prefix — tiny in
    * practice; the cap keeps adversarial streams O(1) per user (the
    * capped-state contract minhashDupStreaming documents).
    */
  val funnelBufCap = 64

  /** Fold a (ts, id)-sorted batch of events through the state. The
    * semantics are EXACTLY the batch twin's chained running-min windows
    * ([[graft.SparkEntry.funnel]]): a click counts only with a view
    * at-or-before it in (ts, id) order, a purchase only with a
    * qualifying click at-or-before it; outputs are ts-minima of the
    * qualifying events. Late cross-batch events fold correctly because
    * qualification only ever EXPANDS as the first view/click moves
    * earlier — buffered candidates promote at that moment.
    */
  private def foldFunnel(st0: FunnelSt, evs: Array[(Long, Long, String)]): FunnelSt = {
    var (v, c, p, cb, pb, lastNs) = st0
    def promoteP(): Unit = c.foreach { cf =>
      val (q, rest) = pb.partition(x => !ordLt(x, cf))
      q.foreach(x => p = ordMin(p, x))
      pb = rest
    }
    def promoteC(): Unit = v.foreach { vf =>
      val (q, rest) = cb.partition(x => !ordLt(x, vf))
      if (q.nonEmpty) {
        q.foreach(x => c = ordMin(c, x))
        promoteP()
      }
      cb = rest
    }
    for ((ts, id, tpe) <- evs) {
      lastNs = math.max(lastNs, ts)
      val e = (ts, id)
      tpe match {
        case "view" =>
          if (v.forall(ordLt(e, _))) { v = Some(e); promoteC() }
        case "click" =>
          if (v.exists(vf => !ordLt(e, vf))) { c = ordMin(c, e); promoteP() }
          else cb = (cb :+ e).sortWith(ordLt).take(funnelBufCap)
        case "purchase" =>
          if (c.exists(cf => !ordLt(e, cf))) p = ordMin(p, e)
          else pb = (pb :+ e).sortWith(ordLt).take(funnelBufCap)
        case _ => ()
      }
    }
    (v, c, p, cb, pb, lastNs)
  }

  private def funnelOut(user: Long, st: FunnelSt): (Long, Option[Long], Option[Long], Option[Long], Long) = {
    val (v, c, p, _, _, _) = st
    val stage: Long = if (p.isDefined) 3L else if (c.isDefined) 2L else if (v.isDefined) 1L else 0L
    (user, v.map(_._1), c.map(_._1), p.map(_._1), stage)
  }

  /** Streaming twin of the one-pass batch funnel: a per-user
    * flatMapGroupsWithState stage tracker with watermark EVICTION —
    * once the watermark passes a user's last activity + horizon, their
    * final (t_view, t_click, t_purchase, stage) row is emitted and the
    * state freed ([[sessionizeStream]] precedent: bounded state over
    * unbounded users). Each invocation sorts its own micro-batch, so
    * in-batch disorder is exact; cross-batch disorder is exact up to
    * the [[funnelBufCap]] buffer (see [[foldFunnel]]). The batch twin
    * `events_funnel` is the oracle-checked anchor.
    */
  def funnelStream(events: DataFrame, horizonNs: Long = 30L * 60 * 1000000000L): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    events
      .withColumn("ts", eventTimeMicros)
      .withWatermark("ts", "10 minutes")
      .select(col("user_id"), col("event_id"), col("ts_ns"), col("event_type"), col("ts"))
      .as[(Long, Long, Long, String, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[FunnelSt, (Long, Option[Long], Option[Long], Option[Long], Long)](
        OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout
      ) {
        (
            user: Long,
            rows: Iterator[(Long, Long, Long, String, java.sql.Timestamp)],
            state: GroupState[FunnelSt]
        ) =>
          if (state.hasTimedOut) {
            val out = state.getOption.map(st => funnelOut(user, st)).iterator
            state.remove()
            out
          } else {
            val evs = rows.map(r => (r._3, r._2, r._4)).toArray.sortBy(e => (e._1, e._2))
            val st = foldFunnel(
              state.getOption.getOrElse((None, None, None, Nil, Nil, Long.MinValue)),
              evs
            )
            state.update(st)
            // ceil to ms (sessionizeStream note): never time out before
            // an on-time boundary event could still arrive
            state.setTimeoutTimestamp((st._6 + horizonNs) / 1000000L + 1) // epoch ms
            Iterator.empty
          }
      }
      .toDF("user_id", "t_view", "t_click", "t_purchase", "stage")
  }

  /** Streaming cohort-retention twin of `events_retention`: per-user
    * state is EXACTLY two longs forever — (cohort week, emitted-offset
    * BITMASK over offsets 0..63) — so the state store holds |users|·16 B
    * regardless of traffic, history length, or window count. Each
    * (user, active-week) pair emits ONCE, the first time it is seen
    * (repeat events in an already-emitted week hit the mask and emit
    * nothing); the cohort rollup (countDistinct per (cohort, offset) —
    * the batch gate's own aggregation) runs over the emitted store
    * downstream, the anomalyBucketsStream stateful/rank split. Cohort
    * policy: first week SEEN becomes the user's cohort; an event from
    * an EARLIER week arriving after the user was already cohorted (the
    * cross-batch out-of-order first contact) is dropped rather than
    * re-based — re-basing would shift every already-emitted offset.
    * The batch twin (min-week cohort) agrees whenever each user's
    * first-week event arrives no later than their other weeks'
    * micro-batches, the deploy-forward case; rows within one batch are
    * sorted, so intra-batch disorder never diverges (spec-pinned).
    */
  def retentionStream(events: DataFrame, horizonWeeks: Int = 63): DataFrame = {
    // the 16-byte state contract is a 64-bit offset mask: offsets > 63
    // would wrap mod 64 and alias onto 0.. (ADVICE r13)
    require(
      horizonWeeks >= 0 && horizonWeeks <= 63,
      s"horizonWeeks must be in [0, 63] (64-bit offset mask), got $horizonWeeks"
    )
    val spark = events.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    events
      .select(col("user_id"), expr("(ts_ns - ts_ns % 1000) div 604800000000000").as("wk"))
      .as[(Long, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[(Long, Long), (Long, Long, Long)](
        OutputMode.Append,
        GroupStateTimeout.NoTimeout
      ) { (user: Long, rows: Iterator[(Long, Long)], state: GroupState[(Long, Long)]) =>
        val wks = rows.map(_._2).toArray.sorted
        var (cohort, mask) = state.getOption.getOrElse((Long.MaxValue, 0L))
        val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
        wks.foreach { wk =>
          if (cohort == Long.MaxValue) cohort = wk
          val off = wk - cohort
          if (off >= 0 && off <= horizonWeeks && ((mask >> off) & 1L) == 0L) {
            mask |= (1L << off)
            out += ((cohort, off, user))
          }
        }
        state.update((cohort, mask))
        out.iterator
      }
      .toDF("cohort_wk", "week_offset", "user_id")
  }

  /** Streaming first-order transition stream — `events_markov`'s
    * twin: per-user state is ONE row (the last (ts_us, event_id,
    * type) processed), each micro-batch sorts its own rows per user
    * by (ts_us, event_id), chains them from the stored last event,
    * and emits the (prev_type, next_type) bigram stream; the
    * types²-sized count/normalize rollup runs downstream over the
    * emitted pairs (the retentionStream stateful/rollup split).
    * Intra-batch disorder sorts away; a row older than the user's
    * stored last (cross-batch late arrival) chains in PROCESSING
    * order rather than retro-inserting — retro-insertion would
    * retract an already-emitted bigram, which an append stream
    * cannot do. Batch-twin equality therefore holds whenever each
    * user's micro-batches respect event-time order (spec-pinned).
    */
  def markovStream(events: DataFrame): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    events
      .select(
        col("user_id"),
        col("event_id"),
        expr("(ts_ns - ts_ns % 1000) div 1000").as("ts_us"),
        col("event_type")
      )
      .as[(Long, Long, Long, String)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[(Long, Long, String), (String, String)](
        OutputMode.Append,
        GroupStateTimeout.NoTimeout
      ) { (_: Long, rows: Iterator[(Long, Long, Long, String)], state: GroupState[(Long, Long, String)]) =>
        val evs = rows.map(r => (r._3, r._2, r._4)).toArray.sortBy(e => (e._1, e._2))
        val out = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
        var prev = state.getOption
        evs.foreach { case (ts, id, ty) =>
          prev.foreach { case (_, _, pt) => out += ((pt, ty)) }
          prev = Some((ts, id, ty))
        }
        prev.foreach(state.update)
        out.iterator
      }
      .toDF("prev_type", "next_type")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "win_agg" -> { (s, dir) => windowedAgg(Tables.events(s, dir)) },
    "win_topn" -> { (s, dir) => windowTopN(Tables.events(s, dir)) },
    "sessionize" -> { (s, dir) =>
      // gate parity: DuckDB's TIMESTAMP view is micro-precision, so the
      // oracle's epoch_ns is always a multiple of 1000 — truncate here
      // (the operator itself is nanos-native)
      val micros = Tables
        .events(s, dir)
        .withColumn("ts_ns", col("ts_ns") - col("ts_ns") % 1000)
      sessionize(micros)
    }
  )

  /** Keyed latest-wins upsert store (SCD Type-1 / MERGE INTO
    * maintenance) — the service form of the `merge_upsert` gate, and
    * its streaming cadence. The store holds ONE row per key:
    * `(user_id, k, ts_us, event_id, n_events)` — the latest attribute
    * value by (ts_us, event_id) plus a summed event count. Both the
    * batch gate and the stream share [[UpsertStore.collapse]], so
    * batch ≡ stream is true by code path, not by parallel
    * implementations (the anomalyScore discipline).
    *
    * Scale: each ingest collapses ONLY its batch (delta-sized work)
    * and merges store ∪ delta under the same associative keeper — at
    * 100 TB the store lives doc-bucketed so the merge joins
    * bucket-to-bucket; the stream itself holds ZERO state (foreachBatch
    * sink), so unbounded streams upsert at bounded memory forever.
    * Publishes go through [[graft.core.Scale.publish]] (write-aside +
    * rename), which recovers an interrupted swap before it reads the
    * store; serving and the stream's existence check resolve that swap
    * without changing the store. A crash mid-write can never lose the
    * accumulated store, and serving may run while a stream upserts.
    */
  object UpsertStore {
    import org.apache.spark.sql.expressions.Window
    import graft.core.Scale

    /** Latest-wins collapse to one row per key: max (ts_us, event_id)
      * carries the attribute, n_events sums (input rows without an
      * n_events column count 1 each). Associative: collapse(a ∪
      * collapse(b)) == collapse(a ∪ b) — the property the merge and
      * the oracle both lean on.
      */
    def collapse(df: DataFrame): DataFrame = {
      val withN =
        if (df.columns.contains("n_events")) df
        else df.withColumn("n_events", lit(1L))
      val wu = Window
        .partitionBy(col("user_id"))
        .orderBy(col("ts_us").desc, col("event_id").desc)
      withN
        .withColumn("rn", row_number().over(wu))
        .withColumn("n_events", sum(col("n_events")).over(Window.partitionBy(col("user_id"))))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("k"), col("ts_us"), col("event_id"), col("n_events"))
    }

    /** Seed the store from a batch (collapses it first). */
    def seed(df: DataFrame, store: String): Unit =
      Scale.publish(df.sparkSession, s"$store/table")(collapse(df))

    /** Upsert one delta batch: collapse the delta ALONE, then re-run
      * the same keeper over store ∪ delta. Out-of-order deltas are
      * fine — latest-wins is a max, not an append.
      *
      * No checkpoint here, deliberately: the merged plan is consumed
      * exactly ONCE (the write-aside in publish), and that write reads
      * the live table BEFORE either rename touches it — a
      * localCheckpoint would materialize the whole store into
      * block-manager memory per call with zero reuse to pay for it
      * (the r12 bench measured exactly that as warm-run pressure).
      */
    def upsert(df: DataFrame, store: String): Unit =
      Scale.publish(df.sparkSession, s"$store/table")(
        collapse(Scale.readPublished(df.sparkSession, s"$store/table").unionByName(collapse(df)))
      )

    /** Streaming upsert cadence: zero streaming state, each
      * micro-batch upserts (or seeds a missing store).
      */
    def upsertStream(df: DataFrame, store: String): org.apache.spark.sql.streaming.StreamingQuery =
      df.writeStream
        .outputMode("append")
        .foreachBatch { (batch: DataFrame, _: Long) =>
          if (Scale.published(batch.sparkSession, s"$store/table")) upsert(batch, store) else seed(batch, store)
          ()
        }
        .start()

    /** The current store contents. */
    def serve(spark: SparkSession, store: String): DataFrame =
      Scale.readPublished(spark, s"$store/table")
  }

  def oracleSql: Map[String, String] = Map(
    "win_agg" ->
      ("SELECT CAST(epoch_ns(ts) // 3600000000000 AS BIGINT) AS hour_bucket, event_type, " +
        "count(*) AS n, round(sum(value), 4) AS sum_value FROM events GROUP BY 1, 2"),
    "win_topn" ->
      ("WITH c AS (SELECT CAST(epoch_ns(ts) // 3600000000000 AS BIGINT) AS hour_bucket, user_id, " +
        "count(*) AS n_events FROM events GROUP BY 1, 2), " +
        "r AS (SELECT hour_bucket, user_id, n_events, row_number() OVER (" +
        "PARTITION BY hour_bucket ORDER BY n_events DESC, user_id ASC) AS rk FROM c) " +
        "SELECT hour_bucket, user_id, n_events, rk FROM r WHERE rk <= 3"),
    // gap-and-islands twin of the stateful sessionizer: new session
    // when the per-user gap exceeds 30 min (in nanos), then one row per
    // (user, island) with bounds and count
    "sessionize" ->
      ("WITH e AS (SELECT user_id, epoch_ns(ts) AS t FROM events), " +
        "marked AS (SELECT user_id, t, CASE WHEN t - lag(t) OVER (PARTITION BY user_id ORDER BY t) > 1800000000000 " +
        "THEN 1 ELSE 0 END AS brk FROM e), " +
        "grp AS (SELECT user_id, t, sum(brk) OVER (PARTITION BY user_id ORDER BY t ROWS UNBOUNDED PRECEDING) AS g FROM marked) " +
        "SELECT user_id, min(t) AS start_ns, max(t) AS end_ns, count(*) AS n_events FROM grp GROUP BY user_id, g")
  )
}
