package graft.streaming

import graft.ext.SegmentChain
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types.StructType
import java.sql.Timestamp

/** Structured Streaming surface (SURVEY.md §2.9). The reference has no
  * streaming runtime — its closest semantics are hourly tumbling rollups and
  * a latest-hour snapshot — so this module supplies the idiomatic Spark
  * forms: watermarked tumbling/sliding window aggregates, session windows,
  * and `flatMapGroupsWithState` latest-per-key state, each with a batch twin
  * (the same transformation applied to a static frame) so results stay
  * oracle-checkable (Temporal.t07/t08/t12 are the oracle-checked twins).
  *
  * Scale posture: watermarks bound state (late events beyond 2h are
  * dropped); state is keyed by (window, type) or user_id so it partitions
  * across executors; `Trigger.AvailableNow` turns any of these into an
  * incremental batch job.
  */
object StreamOps {

  case class Event(event_id: Long, ts: Timestamp, user_id: Long,
                   event_type: String, value: Double)

  case class UserLatest(user_id: Long, last_ts: Timestamp, last_value: Double,
                        n_seen: Long)

  /** Exact µs epoch (getTime is ms; sub-ms lives in getNanos): the key
    * the stateful operators sort and bucket by, equal to the batch twins'
    * `unix_micros`, ties included.
    */
  private def micros(t: Timestamp): Long =
    t.getTime * 1000L + (t.getNanos % 1000000) / 1000L

  /** Watermarked 1-hour tumbling aggregate — streaming form of
    * Temporal.tumblingHourly. Works identically on batch frames (the
    * watermark is a no-op there), which is how the spec pins equivalence.
    */
  def tumblingHourly(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"))
      .select(unix_micros(col("w.start")).as("bucket_us"), col("event_type"),
        col("n"), col("sum_value"))

  /** Watermarked sliding 2h/1h aggregate — streaming form of
    * Temporal.slidingTwoHour.
    */
  def slidingTwoHour(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "2 hours", "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"))
      .select(unix_micros(col("w.start")).as("bucket_us"), col("event_type"),
        col("n"), col("sum_value"))

  /** Watermarked per-hour 32-bin equi-width histogram sketch — the
    * streaming form of Temporal.histogramQuantiles' bin-count core
    * (t19). Bounds are caller-supplied: a stream cannot take the global
    * min/max pre-pass the batch form uses, so production pins known
    * metric bounds and the sketch clamps outliers into the edge bins.
    * State per (window, bin) is one count — mergeable, bounded at
    * 32 × windows-in-watermark, and any quantile is read off the emitted
    * histogram downstream with error ≤ (hi − lo)/32 (bound pinned in
    * StreamingSpec against exact per-window percentiles).
    */
  def hourlyValueHistogram(events: DataFrame, lo: Double, hi: Double): DataFrame = {
    // loud guard, matching t19/e09's span handling: a degenerate range
    // would make (value-lo)/width NaN and silently scatter rows into the
    // edge bins (or throw under ANSI) — fail at call time instead
    require(hi > lo, s"histogram bounds must satisfy hi > lo, got [$lo, $hi]")
    val width = (hi - lo) / 32
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour").as("w"),
        least(lit(31), greatest(lit(0),
          floor((col("value") - lit(lo)) / lit(width)).cast("int"))).as("bin"))
      .agg(count(lit(1)).as("cnt"))
      .select(unix_micros(col("w.start")).as("bucket_us"), col("bin"), col("cnt"))
  }

  /** Watermarked per-hour distinct-user KMV sketch — the streaming form
    * of Temporal.kmvDistinctUsers (t22). Per (window) state is the k
    * smallest distinct 60-bit user hashes ([[graft.functions.KmvAgg]]):
    * O(k) longs, merged across micro-batches by set-union, so the state
    * store never holds a per-user entry — the property that makes
    * hour-level distinct counting viable when an hour has 10^9 users.
    * Below k users the sketch IS the exact count; above, the (k−1)·M/h_k
    * estimate (±1/√(k−2) relative). Emits the estimate plus the sketch
    * fill so downstream can tell which regime a row is in.
    */
  def hourlyDistinctUsersKmv(events: DataFrame, k: Int = 64): DataFrame = {
    graft.functions.GraftFunctions.register(events.sparkSession)
    val kmv = org.apache.spark.sql.functions.udaf(
      new graft.functions.KmvAgg(k), org.apache.spark.sql.Encoders.scalaLong)
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour").as("w"))
      .agg(kmv(expr("md5_long60(CAST(user_id AS STRING))")).as("mins"))
      .select(unix_micros(col("w.start")).as("bucket_us"),
        graft.functions.Kmv.estimate(col("mins"), k).as("est_distinct"),
        size(col("mins")).as("sketch_fill"))
  }

  /** Watermarked per-hour heavy-hitter users — the streaming form of d11's
    * Misra-Gries core, applied to the event stream: the k most active
    * users per hour window with O(capacity) state per window, never a
    * per-user state entry (the property that matters when an hour holds
    * 10⁹ users). When `capacity` ≥ distinct users in the window the
    * counters are exact under ANY micro-batch arrival/merge order; below
    * that, each emitted count is a lower bound within
    * n_window/(capacity+1) of the true count (bound pinned in
    * StreamingSpec). Ranks tie-break by user id string, matching
    * [[graft.functions.HeavyHittersAgg]].finish.
    */
  def hourlyHeavyHitterUsers(events: DataFrame, k: Int = 5,
      capacity: Int = 64): DataFrame = {
    val mg = org.apache.spark.sql.functions.udaf(
      new graft.functions.HeavyHittersAgg(k, capacity),
      org.apache.spark.sql.Encoders.STRING)
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour").as("w"))
      .agg(mg(col("user_id").cast("string")).as("hh"))
      .select(unix_micros(col("w.start")).as("bucket_us"),
        posexplode(col("hh")))
      .select(col("bucket_us"), (col("pos") + 1).as("rank"),
        col("col.token").cast("long").as("user_id"),
        col("col.est_count").as("est_count"))
  }

  /** Watermarked per-hour Count-Min sketch of user activity — the
    * streaming form of d44's CM sketch (TextOps.cmsTokenFrequency),
    * completing the streaming sketch family: KMV answers distinct, MG
    * answers top-k, CMS answers ANY-key frequency. State per window is
    * ≤ depth×width counter cells regardless of user cardinality (the
    * same bounded-state property as the others), and cells merge across
    * micro-batches by ADDITION — count aggregation is the merge, so
    * arrival order can't matter. Downstream reads an estimate as min
    * over a key's `depth` cells; overestimate-only, like every CMS.
    */
  def hourlyUserCms(events: DataFrame, depth: Int = 4, width: Int = 256): DataFrame = {
    graft.functions.GraftFunctions.register(events.sparkSession)
    events
      .withWatermark("ts", "2 hours")
      .selectExpr("ts", s"explode(sequence(0, ${depth - 1})) AS r", "user_id")
      .selectExpr("ts", "r",
        s"pmod(md5_long60(concat('cms', r, ':', CAST(user_id AS STRING))), $width) AS b")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("r"), col("b"))
      .agg(count(lit(1)).as("c"))
      .select(unix_micros(col("w.start")).as("bucket_us"), col("r"), col("b"), col("c"))
  }

  case class CusumState(openHourUs: Long, openN: Long, cumN: Long,
                        nClosed: Long, runMinP: Double, runMaxP: Double)
  case class CusumOut(event_type: String, h_us: Long, n_events: Long,
                      cusum_up: Double, cusum_down: Double,
                      up_drift: Boolean, down_drift: Boolean)

  /** Streaming CUSUM drift monitor — the streaming twin of
    * Temporal.cusumDrift (t48), in the detector's NATIVE posture: batch
    * CUSUM self-references the series mean, but a monitor watches the
    * live stream against a KNOWN in-control target rate μ₀ per key
    * (supplied from a historical profile — e.g. the batch query over
    * last month). Per event_type the state is O(1) — the open hour's
    * count, the closed-hours cumulative count, the closed-hour index,
    * and the running min/max of the drift prefix P — so a key emits one
    * row per CLOSED hourly bucket with exactly the batch twin's
    * arithmetic (P = S − i·μ on exact ints, clamped CUSUM = P − running
    * min, mirrored for downward drift): feed the same μ and the same
    * events and the emitted rows are bit-identical to t48's, which is
    * what StreamingSpec pins.
    *
    * Contract: per-type events must arrive in event-time order ACROSS
    * micro-batches (stateIntervalsStream's contract; rows within one
    * batch are sorted here). An event for an hour already closed is
    * DROPPED — a forward-only monitor never reopens a decided bucket;
    * watermark-buffered sorting upstream is the fix if the source
    * reorders. The final open hour emits only when a later event closes
    * it (a stream has no "end of series").
    *
    * CALENDAR-DENSE like its batch twin: when an arriving event skips
    * hours, every silent hour in between closes with n = 0 — a full
    * outage hour DRIVES the downward detector (the one event a rate
    * monitor most needs to see) instead of silently vanishing from the
    * series. Works across micro-batch boundaries (the open hour carries
    * in state). STORED state stays O(1), but gap rows do pass through
    * the group's output buffer before the iterator is drained — one
    * CusumOut per silent hour, so a key silent for a year materializes
    * ~8.8k rows (≈1 MB) inside the closing micro-batch. That
    * hour-granularity bound is fine for a monitor's realistic horizons;
    * a deployment expecting multi-year-dormant keys should age keys out
    * upstream (or add a state timeout) rather than replay the dormancy
    * as zeros.
    */
  def cusumStream(events: Dataset[Event],
                  mu: Map[String, Double]): Dataset[CusumOut] = {
    import events.sparkSession.implicits._
    val targets = events.sparkSession.sparkContext.broadcast(mu)
    events
      .groupByKey(_.event_type)
      .flatMapGroupsWithState[CusumState, CusumOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (et: String, rows: Iterator[Event], state: GroupState[CusumState]) =>
          val m = targets.value.getOrElse(et,
            throw new IllegalArgumentException(
              s"cusumStream: no in-control target rate for key '$et'"))
          var s = state.getOption.getOrElse(
            CusumState(Long.MinValue, 0L, 0L, 0L,
              Double.PositiveInfinity, Double.NegativeInfinity))
          val out = scala.collection.mutable.ArrayBuffer.empty[CusumOut]
          val band = 4.0 * math.sqrt(m)
          s = cusumFoldHours(rows, s, m) { (hUs, n, up, down) =>
            out += CusumOut(et, hUs, n, up, down, up > band, down > band)
          }
          state.update(s)
          out.iterator
      }
  }

  /** The dense-hour CUSUM fold shared by [[cusumStream]] and
    * [[driftEpisodesStream]]: sorts the micro-batch's rows, closes
    * hourly buckets (silent hours as n = 0 — the calendar-dense spine),
    * runs exactly the batch twin's arithmetic per closed hour
    * (cumulative INT sum, one multiply, one subtract — bit-identical
    * cusum values), and hands each closed hour to `onClose`. Returns
    * the carried state (open hour + prefix extrema).
    */
  private def cusumFoldHours(rows: Iterator[Event], s0: CusumState,
      m: Double)(onClose: (Long, Long, Double, Double) => Unit): CusumState = {
    var s = s0
    def closeHour(hUs: Long, n: Long): Unit = {
      val cumN = s.cumN + n
      val i = s.nClosed + 1
      val p = cumN.toDouble - i * m
      val runMin = math.min(s.runMinP, p)
      val runMax = math.max(s.runMaxP, p)
      val up = p - math.min(runMin, 0.0)
      val down = math.max(runMax, 0.0) - p
      onClose(hUs, n, up, down)
      s = CusumState(Long.MinValue, 0L, cumN, i, runMin, runMax)
    }
    val HourUs = 3600000000L
    rows.toSeq
      .sortBy(e => (e.ts.getTime, e.ts.getNanos, e.event_id))
      .foreach { e =>
        val h = micros(e.ts) / HourUs * HourUs
        if (h == s.openHourUs) s = s.copy(openN = s.openN + 1)
        else if (h > s.openHourUs) {
          if (s.openHourUs != Long.MinValue) {
            val prev = s.openHourUs
            closeHour(prev, s.openN)
            // the dense spine: silent hours between the closed
            // hour and the arriving one emit as zero-count rows
            var g = prev + HourUs
            while (g < h) { closeHour(g, 0L); g += HourUs }
          }
          s = s.copy(openHourUs = h, openN = 1L)
        } // h < openHourUs: late into a decided bucket — dropped
      }
    s
  }

  case class EpisodeState(cu: CusumState, epStartUs: Long, epEndUs: Long,
                          epHours: Long, epPeak: Double)
  case class EpisodeOut(event_type: String, start_us: Long, end_us: Long,
                        n_hours: Long, peak_cusum: Double)

  /** Streaming drift-alarm EPISODES — t56's coalescing run live: the
    * same dense-hour CUSUM fold drives an episode tracker per key, and
    * a row is emitted only when an over-band run CLOSES (the first
    * under-band hour after it) — one incident per sustained drift,
    * start/end/duration/peak, instead of a page per flagged hour.
    * State stays O(1): the CUSUM carry plus the open episode's four
    * fields. The final open episode never emits (a stream has no "end
    * of series" — cusumStream's open-hour caveat, one level up);
    * feed the same μ and events and every CLOSED episode is
    * bit-identical to the batch twin's row (StreamingSpec pins it).
    */
  def driftEpisodesStream(events: Dataset[Event],
      mu: Map[String, Double]): Dataset[EpisodeOut] = {
    import events.sparkSession.implicits._
    val targets = events.sparkSession.sparkContext.broadcast(mu)
    events
      .groupByKey(_.event_type)
      .flatMapGroupsWithState[EpisodeState, EpisodeOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (et: String, rows: Iterator[Event], state: GroupState[EpisodeState]) =>
          val m = targets.value.getOrElse(et,
            throw new IllegalArgumentException(
              s"driftEpisodesStream: no in-control target rate for key '$et'"))
          var s = state.getOption.getOrElse(EpisodeState(
            CusumState(Long.MinValue, 0L, 0L, 0L,
              Double.PositiveInfinity, Double.NegativeInfinity),
            Long.MinValue, Long.MinValue, 0L, Double.NegativeInfinity))
          val out = scala.collection.mutable.ArrayBuffer.empty[EpisodeOut]
          val band = 4.0 * math.sqrt(m)
          val cu = cusumFoldHours(rows, s.cu, m) { (hUs, _, up, _) =>
            if (up > band) {
              val start = if (s.epStartUs == Long.MinValue) hUs else s.epStartUs
              s = s.copy(epStartUs = start, epEndUs = hUs,
                epHours = s.epHours + 1, epPeak = math.max(s.epPeak, up))
            } else if (s.epStartUs != Long.MinValue) {
              out += EpisodeOut(et, s.epStartUs, s.epEndUs, s.epHours, s.epPeak)
              s = s.copy(epStartUs = Long.MinValue, epEndUs = Long.MinValue,
                epHours = 0L, epPeak = Double.NegativeInfinity)
            }
          }
          s = s.copy(cu = cu)
          state.update(s)
          out.iterator
      }
  }

  case class TrendState(lastUs: Long, users: Seq[Long], weights: Seq[Double])
  case class TrendOut(event_type: String, asof_us: Long, rank: Int,
                      user_id: Long, weight: Double)

  /** Exponentially-decayed heavy hitters — the "trending now" monitor:
    * per event type, which users dominate RECENT activity, where
    * "recent" is a half-life, not a window edge. A tumbling-window MG
    * ([[hourlyHeavyHitterUsers]]) forgets everything at each boundary
    * and a global MG never forgets; the decayed counter
    * w ← w·2^(−Δt/halfLife) + 1 is the standard middle ground
    * (space-saving with decay), and the half-life is the knob a
    * trending feed actually exposes.
    *
    * Determinism contract (what StreamingSpec pins): the decay clock is
    * EVENT time and decay applies per event in event-time order, so the
    * carried state after any prefix of the stream is INDEPENDENT of
    * micro-batch boundaries — chunk the stream anyhow, the final
    * snapshot is bit-identical to a single-batch run and to a driver
    * recompute of the same sequential walk. Rows are sorted within a
    * batch; per-type arrival must be in event-time order ACROSS batches
    * (cusumStream's contract). Each batch emits the key's top-k
    * snapshot (weight DESC, user ASC) stamped with the key's max event
    * time in that batch.
    *
    * State is bounded: `capacity` (user, weight) pairs per key; on
    * overflow the smallest weight is evicted (ties evict the LARGEST
    * user id, so the kept set is deterministic). Eviction makes the
    * monitor approximate — a returning evicted user restarts from
    * zero — the same trade every bounded heavy-hitter structure makes;
    * capacity ≫ k keeps the top-k reliable in practice.
    */
  def trendingUsersStream(events: Dataset[Event], halfLifeHours: Double = 6.0,
      k: Int = 3, capacity: Int = 32): Dataset[TrendOut] = {
    import events.sparkSession.implicits._
    require(halfLifeHours > 0 && k > 0 && capacity >= k)
    val hlUs = halfLifeHours * 3600000000.0
    events
      .groupByKey(_.event_type)
      .flatMapGroupsWithState[TrendState, TrendOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (et: String, rows: Iterator[Event], state: GroupState[TrendState]) =>
          val s0 = state.getOption.getOrElse(TrendState(Long.MinValue, Nil, Nil))
          val w = scala.collection.mutable.LinkedHashMap.empty[Long, Double]
          s0.users.zip(s0.weights).foreach { case (u, x) => w(u) = x }
          var lastUs = s0.lastUs
          val sorted = rows.toSeq
            .sortBy(e => (e.ts.getTime, e.ts.getNanos, e.event_id))
          sorted.foreach { e =>
            val us = micros(e.ts)
            if (lastUs != Long.MinValue && us > lastUs) {
              val f = math.pow(2.0, -(us - lastUs) / hlUs)
              w.keys.toSeq.foreach(u => w(u) = w(u) * f)
            }
            lastUs = math.max(lastUs, us)
            w(e.user_id) = w.getOrElse(e.user_id, 0.0) + 1.0
            if (w.size > capacity) {
              // evict the smallest weight; ties drop the LARGEST user id
              val (eu, _) = w.minBy { case (u, x) => (x, -u) }
              w.remove(eu)
              ()
            }
          }
          // persist in a deterministic order so state round-trips stably
          val kept = w.toSeq.sortBy { case (u, x) => (-x, u) }
          state.update(TrendState(lastUs, kept.map(_._1), kept.map(_._2)))
          if (sorted.isEmpty) Iterator.empty
          else kept.take(k).zipWithIndex.map { case ((u, x), i) =>
            TrendOut(et, lastUs, i + 1, u, x)
          }.iterator
      }
  }

  /** Session windows with a 30-minute gap per user — streaming form of the
    * gaps-and-islands batch query Temporal.userSessions.
    */
  def userSessionWindows(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(session_window(col("ts"), "30 minutes").as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"), round(sum("value"), 2).as("sum_value"))
      .select(col("user_id"), unix_micros(col("w.start")).as("start_us"),
        unix_micros(col("w.end")).as("end_us"), col("n_events"), col("sum_value"))

  /** Latest-state-per-user via flatMapGroupsWithState — the streaming form
    * of the reference's "latest hour snapshot" (P8, sa:713-714): each user
    * key keeps (last_ts, last_value, count), emitting on update.
    */
  def latestPerUser(events: Dataset[Event]): Dataset[UserLatest] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[UserLatest, UserLatest](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[Event], state: GroupState[UserLatest]) =>
          val prev = state.getOption.getOrElse(UserLatest(uid, new Timestamp(Long.MinValue), 0.0, 0L))
          var cur = prev
          var n = prev.n_seen
          rows.foreach { e =>
            n += 1
            if (e.ts.compareTo(cur.last_ts) >= 0)
              cur = UserLatest(uid, e.ts, e.value, n)
            else cur = cur.copy(n_seen = n)
          }
          state.update(cur)
          Iterator.single(cur)
      }
  }

  case class StateInterval(user_id: Long, seq: Long, event_type: String,
                           n_events: Long, valid_from: Timestamp,
                           valid_to: Option[Timestamp])
  /** Open-interval state for [[stateIntervalsStream]] — public because the
    * state encoder codegens accessor calls against it.
    */
  case class ScdState(seq: Long, event_type: String, n_events: Long,
                      valid_from: Timestamp)

  /** Streaming SCD2 state-interval build — the streaming twin of
    * Temporal.stateIntervals (t23): per-user state holds ONLY the open
    * interval (type, count, start — O(1) per user, not per event); each
    * arriving event either extends it or closes it, emitting the closed
    * interval with `valid_to` = the successor's start plus a refreshed
    * open row (Update mode upserts it downstream).
    *
    * Contract: events must arrive per-user in event-time order (true for
    * an ordered source/replay; out-of-order delivery needs the batch
    * formulation or a watermark-buffered sort upstream). StreamingSpec
    * feeds ordered micro-batches and pins equivalence with the
    * oracle-checked t23.
    */
  def stateIntervalsStream(events: Dataset[Event]): Dataset[StateInterval] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[ScdState, StateInterval](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[Event], state: GroupState[ScdState]) =>
          val out = scala.collection.mutable.ArrayBuffer.empty[StateInterval]
          var cur = state.getOption.orNull
          // rows within one micro-batch are not pre-sorted by Spark;
          // (getTime, getNanos) carries full sub-ms precision — getTime
          // alone is ms-truncated and would misorder same-ms events
          rows.toSeq.sortBy(e => (e.ts.getTime, e.ts.getNanos, e.event_id))
            .foreach { e =>
            cur match {
              case null =>
                cur = ScdState(1L, e.event_type, 1L, e.ts)
              case c if c.event_type == e.event_type =>
                cur = c.copy(n_events = c.n_events + 1)
              case c =>
                out += StateInterval(uid, c.seq, c.event_type, c.n_events,
                  c.valid_from, Some(e.ts)) // closed by the successor
                cur = ScdState(c.seq + 1, e.event_type, 1L, e.ts)
            }
          }
          state.update(cur)
          out += StateInterval(uid, cur.seq, cur.event_type, cur.n_events,
            cur.valid_from, None) // open interval, upserted each batch
          out.iterator
      }
  }

  case class CdcRow(user_id: Long, op: String, last_type: String,
                    last_value: Double, last_ts: Timestamp, n_events: Long)
  /** Latest-event state for [[cdcSnapshotStream]] — public for the state
    * encoder, like [[ScdState]].
    */
  case class CdcState(last_ts: Timestamp, last_eid: Long, last_type: String,
                      last_value: Double, n_events: Long)

  /** Streaming CDC snapshot maintenance — the streaming twin of the
    * oracle-checked t36 (Temporal.cdcSnapshot): per-user state keeps the
    * LATEST event under the fully-tie-broken (ts, event_id) order (O(1)
    * per key); every micro-batch emits the user's current snapshot row,
    * marked op='U' (upsert) or op='D' (tombstone — latest event is an
    * 'error') for a downstream MERGE sink. Unlike [[latestPerUser]] this
    * carries DELETE semantics: a 'D' row tells the sink to drop the key,
    * exactly how a lakehouse CDC apply consumes a changefeed.
    * Out-of-order arrival across micro-batches is handled (the state
    * compare is by event-time, not arrival); n_events assumes
    * exactly-once delivery like the rest of the stateful surface.
    */
  def cdcSnapshotStream(events: Dataset[Event]): Dataset[CdcRow] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[CdcState, CdcRow](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[Event], state: GroupState[CdcState]) =>
          var cur = state.getOption.orNull
          rows.foreach { e =>
            val newer = cur == null || {
              val c = e.ts.compareTo(cur.last_ts)
              c > 0 || (c == 0 && e.event_id > cur.last_eid)
            }
            cur =
              if (newer)
                CdcState(e.ts, e.event_id, e.event_type, e.value,
                  if (cur == null) 1L else cur.n_events + 1)
              else cur.copy(n_events = cur.n_events + 1)
          }
          state.update(cur)
          Iterator.single(CdcRow(uid,
            if (cur.last_type == "error") "D" else "U",
            cur.last_type, cur.last_value, cur.last_ts, cur.n_events))
      }
  }

  /** The CDC table's chain: every commit writes the whole merged table
    * as the `table` segment, so every version is a base. Commit, retry
    * detection, crash safety and the `retain` read lease are
    * [[SegmentChain]]'s.
    */
  private val cdcChain = new SegmentChain("table")

  /** The table's columns: [[CdcRow]]'s minus `op`, nullable as Spark
    * writes them to parquet.
    */
  private val CdcTableSchema = StructType(
    Encoders.product[CdcRow].schema.filter(_.name != "op").map(_.copy(nullable = true)))

  private def cdcTableAt(s: SparkSession, c: SegmentChain.Snapshot): DataFrame =
    s.read.schema(CdcTableSchema).parquet(c.dir(c.live, "table"))

  /** The table's live version, None before the first commit. The table
    * root holds several versions and is not itself a parquet dataset,
    * so readers come through here. The frame reads one resolved version:
    * it stays readable across `retain` − 1 later commits.
    */
  def readCdcTable(spark: SparkSession, tableDir: String): Option[DataFrame] =
    cdcChain.resolveOption(spark, tableDir).map(cdcTableAt(spark, _))

  /** MERGE-apply sink for [[cdcSnapshotStream]]'s changefeed: each
    * micro-batch upserts op='U' rows and deletes op='D' keys into a
    * keyed parquet table — lakehouse MERGE semantics on plain parquet,
    * committed exactly once per (batch id, incarnation) through
    * [[SegmentChain]]. A retried batch that never committed
    * re-merges from the previous version; the merge is a pure function
    * of table and batch, so that is safe. Cost per batch is one table
    * rewrite — the plain-parquet floor; a format with deletion vectors
    * (Delta/Iceberg) turns this same changefeed into metadata-only
    * commits, which is why the emitted op column matches their MERGE
    * contract.
    */
  def cdcApplyParquetSink(cdc: Dataset[CdcRow], tableDir: String,
      retain: Int = 2): DataStreamWriter[Row] =
    SegmentChain.stampedSink(cdc.toDF()) { (b, id, incarnation) =>
      applyCdcBatch(b.as[CdcRow](Encoders.product[CdcRow]), tableDir, id,
        incarnation, retain)
    }

  /** One MERGE-apply commit — the [[cdcApplyParquetSink]] batch body,
    * public so the retry/crash-recovery paths are directly spec-testable
    * (a foreachBatch retry is just this function called again with the
    * same batchId).
    */
  def applyCdcBatch(batch: Dataset[CdcRow], tableDir: String, batchId: Long,
      incarnationId: String = "batch", retain: Int = 2): Unit = {
    val s = batch.sparkSession
    val stamp = (batchId, incarnationId)
    val current = cdcChain.resolveOption(s, tableDir)
    if (!current.exists(c => SegmentChain.isRetry(s, tableDir, c.live, stamp))) {
      val upserts = batch.toDF().filter(col("op") === "U").drop("op")
      val merged = current.fold(upserts) { c =>
        cdcTableAt(s, c)
          .join(batch.toDF().select("user_id").distinct(), Seq("user_id"), "left_anti")
          .unionByName(upserts)
      }
      cdcChain.commit(s, tableDir, SegmentChain.next(s, tableDir), stamp,
        retain)(dir => merged.write.parquet(s"$dir/table"))
    }
  }

  /** Incremental OPTIMIZE pass — the table-maintenance job every
    * long-lived keyed table needs, composed from the repo's own layout
    * tools (the lakehouse OPTIMIZE shape on plain parquet): rewrite the
    * live version COMPACTED (ceil(on-disk bytes / targetBytes) output
    * files — Formats.compact's sizing, from actual file lengths, not
    * plan stats) and Z-ORDERED on `zCols`
    * ([[graft.operators.ZOrder.cluster]] — tight per-file min/max footer
    * stats on every participating column), committed as live + 1 stamped
    * `(-2, "optimize")`. That stamp never equals a stream batch's, so
    * the next batch merges on top of the optimized version. This is a
    * layout rewrite of a depth-0 chain, not a fold, so it always
    * commits. Run it in a maintenance window, never concurrently with
    * the sink. Returns the new committed version; None if the table has
    * no commit yet.
    */
  def optimizeCdcTable(spark: SparkSession, tableDir: String,
      zCols: Seq[String], targetBytes: Long = 128L * 1024 * 1024,
      bits: Int = 16, retain: Int = 2): Option[Long] =
    cdcChain.resolveOption(spark, tableDir).map { c =>
      val df = cdcTableAt(spark, c)
      // size from actual on-disk lengths (the listing is already
      // driver-resident in the read's file index) — plan stats estimate
      // decompressed bytes and would overshoot the file count severalfold
      val hconf = spark.sessionState.newHadoopConf()
      val bytes = df.inputFiles.map { f =>
        val p = new org.apache.hadoop.fs.Path(f)
        p.getFileSystem(hconf).getFileStatus(p).getLen
      }.sum
      val nFiles = math.max(1, (bytes.toDouble / targetBytes.toDouble).ceil.toInt)
      cdcChain.commit(spark, tableDir, c.live + 1, (-2L, "optimize"), retain)(dir =>
        graft.operators.ZOrder.cluster(df, zCols, bits, nFiles).write.parquet(s"$dir/table"))
    }

  /** Streaming exact dedup on event_id with watermark-bounded state —
    * the streaming form of d01-style exact dedup: duplicate deliveries
    * (at-least-once sources) collapse to the first arrival, and state for
    * ids older than the watermark is dropped, so memory is bounded by the
    * 2-hour event-time horizon instead of the whole stream history.
    */
  def dedupEvents(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .dropDuplicatesWithinWatermark("event_id")

  case class RunStats(user_id: Long, event_id: Long, ts_us: Long, value: Double,
                      n_before: Long, mean_before: Double)

  /** Per-user running statistics on the Spark 4 `transformWithState`
    * arbitrary-state API (the successor to `flatMapGroupsWithState`,
    * RocksDB-backed): every event emits the count and mean of the SAME
    * user's PRIOR values — the online-baseline shape behind anomaly
    * flags ("this purchase is 4× this user's running mean"). State is a
    * single typed `ValueState[(count, sum)]` per user — O(1), the whole
    * point over buffering a window — and the handle API (value/list/map
    * state + timers + TTL) is what `GroupState` could not express.
    *
    * Ordering contract: rows WITHIN a micro-batch are folded in
    * (ts, event_id) order (the iterator order Spark hands over is
    * unspecified, so the handler sorts its batch — bounded by the
    * micro-batch's per-key row count, not by history); ACROSS batches
    * the fold follows arrival order, as any online algorithm must. A
    * stream whose batches arrive time-ordered therefore folds in exactly
    * (ts, event_id) order, and equals the batch twin's
    * unbounded-preceding window bit-for-bit — running-window evaluation
    * adds values in the same ascending order, so even the float sums
    * agree (StreamingSpec pins this).
    */
  class RunningStatsProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, Event, RunStats] {
    @transient private var st: org.apache.spark.sql.streaming.ValueState[(Long, Double)] = _
    override def init(outputMode: OutputMode,
                      timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      st = getHandle.getValueState[(Long, Double)]("agg",
        org.apache.spark.sql.Encoders.product[(Long, Double)],
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[Event],
        tv: org.apache.spark.sql.streaming.TimerValues): Iterator[RunStats] = {
      var (n, sum) = if (st.exists()) st.get() else (0L, 0.0)
      val out = rows.toSeq.sortBy(e => (micros(e.ts), e.event_id)).map { e =>
        val r = RunStats(key, e.event_id, micros(e.ts), e.value, n,
          if (n == 0) 0.0 else sum / n)
        n += 1; sum += e.value
        r
      }
      st.update((n, sum))
      out.iterator
    }
  }

  def runningStatsStream(events: Dataset[Event]): Dataset[RunStats] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .transformWithState(new RunningStatsProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Append())
  }

  case class SessionOut(user_id: Long, start_us: Long, end_us: Long,
                        n_events: Long, sum_value: Double)

  /** Event-time-TIMER sessionization on `transformWithState` — the half
    * of the new API [[RunningStatsProcessor]] doesn't exercise: an open
    * session lives in a `ValueState[(start, last, n, sum)]`, gap-splits
    * emit inline as rows fold through, and the FINAL flush is an
    * event-time timer at (last + gap) — `handleExpiredTimer` emits the
    * session and clears state when the watermark proves no extension can
    * still arrive. Each extension re-arms the timer (delete + register),
    * so a session spanning micro-batches closes exactly once.
    *
    * Semantics match `session_window(ts, "30 minutes")` via the same
    * merge rule Spark's own MergingSessionsIterator applies: two
    * windows merge when the later one's start lies at or before the
    * earlier one's end — merge-on-TOUCH, inclusive, so two events
    * exactly one gap apart form ONE session in both engines. Each
    * micro-batch folds its (sorted) rows into sessions among
    * themselves, then merges the stored open session into that
    * sequence (it can land anywhere and bridge several of them); the
    * emitted window is [first, last + gap), and the sum carries the
    * batch twin's 2-dp round (java BigDecimal HALF_UP on the shortest
    * decimal repr — the same algorithm Spark's `round` lowers to).
    *
    * Ordering contract (the honest limit of one-ValueState-per-key,
    * same spirit as [[RunningStatsProcessor]]'s): after each batch,
    * every merged session except the LATEST closes — an admissible
    * out-of-order arrival in a LATER batch can extend only the open
    * (latest) session; anything earlier starts its own session in its
    * own batch (full reopening needs a list of recent sessions — the
    * engine's windowed [[userSessionWindows]] handles that case).
    * Streams whose batches arrive time-ordered — or out of order
    * within one gap of the open window — reproduce the batch twin
    * exactly; StreamingSpec pins the sorted two-batch run, a
    * backward-merge arrival, and the exact-gap touch boundary.
    */
  class SessionTimerProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, Event, SessionOut] {
    private val GapUs = 30L * 60 * 1000000L
    @transient private var st:
      org.apache.spark.sql.streaming.ValueState[(Long, Long, Long, Double)] = _
    override def init(outputMode: OutputMode,
                      timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      st = getHandle.getValueState[(Long, Long, Long, Double)]("open",
        org.apache.spark.sql.Encoders.product[(Long, Long, Long, Double)],
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    private def close(key: Long, s: (Long, Long, Long, Double)): SessionOut =
      SessionOut(key, s._1, s._2 + GapUs, s._3,
        new java.math.BigDecimal(java.lang.Double.toString(s._4))
          .setScale(2, java.math.RoundingMode.HALF_UP).doubleValue())
    override def handleInputRows(key: Long, rows: Iterator[Event],
        tv: org.apache.spark.sql.streaming.TimerValues): Iterator[SessionOut] = {
      // 1. fold the batch's (sorted) rows into sessions among themselves
      //    — ascending, so only the last can extend; merge-on-TOUCH
      //    (t ≤ last + gap), matching MergingSessionsIterator's
      //    newStart <= currentEnd rule
      val batchSessions = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Double)]
      rows.toSeq.sortBy(e => (micros(e.ts), e.event_id)).foreach { e =>
        val t = micros(e.ts)
        batchSessions.lastOption match {
          case Some(s) if t <= s._2 + GapUs =>
            batchSessions(batchSessions.length - 1) = (s._1, t, s._3 + 1, s._4 + e.value)
          case _ => batchSessions += ((t, t, 1L, e.value))
        }
      }
      // 2. merge the stored open session into that sequence — it may sit
      //    anywhere and can bridge several batch sessions
      val all = ((if (st.exists()) Seq(st.get()) else Nil) ++ batchSessions)
        .sortBy(s => (s._1, s._2))
      val merged = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Double)]
      all.foreach { s =>
        merged.lastOption match {
          case Some(p) if s._1 <= p._2 + GapUs =>
            merged(merged.length - 1) =
              (p._1, math.max(p._2, s._2), p._3 + s._3, p._4 + s._4)
          case _ => merged += s
        }
      }
      // 3. everything but the latest closes now (an out-of-order future
      //    arrival can no longer reach it under the one-open contract);
      //    the latest stays open behind its re-armed timer
      val out = merged.init.map(s => close(key, s))
      val open = merged.last
      st.update(open)
      getHandle.listTimers().foreach(ts => getHandle.deleteTimer(ts.asInstanceOf[Long]))
      // ceil µs → ms: firing at floor() would close up to 999 µs before
      // the true end, splitting a session a sub-ms event could extend
      getHandle.registerTimer((open._2 + GapUs + 999L) / 1000L)
      out.iterator
    }
    override def handleExpiredTimer(key: Long,
        tv: org.apache.spark.sql.streaming.TimerValues,
        info: org.apache.spark.sql.streaming.ExpiredTimerInfo): Iterator[SessionOut] =
      if (st.exists()) {
        val s = st.get()
        if ((s._2 + GapUs + 999L) / 1000L <= info.getExpiryTimeInMs()) {
          st.clear()
          Iterator.single(close(key, s))
        } else Iterator.empty // re-armed since this timer was set
      } else Iterator.empty
  }

  def sessionTimerStream(events: Dataset[Event]): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    events.withWatermark("ts", "2 hours")
      .groupByKey(_.user_id)
      .transformWithState(new SessionTimerProcessor,
        org.apache.spark.sql.streaming.TimeMode.EventTime(), OutputMode.Append())
  }

  /** Batch twin of [[runningStatsStream]]: the unbounded-preceding user
    * window, exclusive of the current row. */
  def runningStatsBatch(events: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("ts_us"), col("event_id"))
      .rowsBetween(Long.MinValue, -1)
    events
      .selectExpr("user_id", "event_id", "unix_micros(ts) AS ts_us", "value")
      .withColumn("n_before", count(lit(1)).over(w))
      .withColumn("mean_before", coalesce(avg(col("value")).over(w), lit(0.0)))
  }

  /** Stream-stream interval join: (error, purchase) pairs per user with
    * the purchase in the hour preceding the error — the streaming form of
    * Temporal.purchasesNearErrors (its oracle-checked batch twin, t16).
    * Both sides carry watermarks and the join condition bounds event time
    * on BOTH ends, which is what lets Spark expire buffered state: a
    * purchase older than (watermark − 1h) can never match a future error.
    */
  def purchasesNearErrors(errors: DataFrame, purchases: DataFrame): DataFrame =
    ssjProject(ssjJoin(errors, purchases, "inner"))

  /** LEFT OUTER variant of [[purchasesNearErrors]]: EVERY error is emitted
    * exactly once per qualifying purchase — or once, null-padded, when the
    * watermark proves no qualifying purchase can still arrive (a purchase
    * for error time T must carry pts ≥ T − 1h, so once the purchase-side
    * watermark passes T the error's fate is sealed and the engine emits
    * the null row and evicts the state). Same state bound as the inner
    * form; the only new mechanics is the watermark-gated null emission,
    * which is why the stream only converges to the batch left join after
    * the watermark passes every error — StreamingSpec drives a flush
    * batch through to pin exactly that. Batch twin under the oracle gate:
    * Temporal t46.
    */
  def purchasesNearErrorsOuter(errors: DataFrame, purchases: DataFrame): DataFrame =
    ssjProject(ssjJoin(errors, purchases, "leftOuter"))

  /** FULL OUTER variant — completes the stream-stream join matrix
    * (inner t16 / left outer t46 / full outer t47): unmatched ERRORS
    * null-pad the purchase side (as in the left form) AND unmatched
    * PURCHASES null-pad the error side, each emitted exactly once when
    * its own watermark proves no partner can still arrive (a purchase
    * at pts can only match errors with ets ∈ [pts, pts + 1h], so once
    * the error-side watermark passes pts + 1h the purchase's fate is
    * sealed). State bound and eviction are the inner form's — the
    * outer emissions ride the same expiry scan. `user_id` must
    * COALESCE across sides: either side may be the null one. Batch
    * twin under the oracle gate: Temporal t47.
    */
  def purchasesNearErrorsFullOuter(errors: DataFrame, purchases: DataFrame): DataFrame =
    ssjProject(ssjJoin(errors, purchases, "fullOuter"))

  private def ssjJoin(errors: DataFrame, purchases: DataFrame,
                      joinType: String): DataFrame = {
    val err = errors
      .select(col("event_id").as("error_id"), col("user_id").as("e_user"), col("ts").as("ets"))
      .withWatermark("ets", "2 hours")
    val pur = purchases
      .select(col("event_id").as("purchase_id"), col("user_id").as("p_user"),
        col("ts").as("pts"), col("value").as("purchase_value"))
      .withWatermark("pts", "2 hours")
    err.join(pur,
      col("e_user") === col("p_user") &&
        col("pts") >= col("ets") - expr("INTERVAL 1 HOUR") && col("pts") <= col("ets"),
      joinType)
  }

  private def ssjProject(joined: DataFrame): DataFrame =
    joined.select(col("error_id"), col("purchase_id"),
      coalesce(col("e_user"), col("p_user")).as("user_id"),
      unix_micros(col("ets")).as("error_ts_us"),
      unix_micros(col("pts")).as("purchase_ts_us"), col("purchase_value"))

  case class AsofOut(event_id: Long, user_id: Long, ts_us: Long,
                     purchase_ts_us: Option[Long], purchase_value: Option[Double])

  /** Streaming AS-OF join — the point-in-time enrichment the interval
    * matrix (t16/t46/t47) cannot express: every error is matched to AT
    * MOST ONE purchase, the same user's most recent at-or-before its
    * event time, unbounded lookback. Spark has no stream-stream as-of
    * join (the interval join needs a bound on BOTH ends to expire
    * state), so this is custom state on `transformWithState`: per user,
    * a pending-error list and a purchase list, with event-time timers
    * driving emission.
    *
    * Correctness contract (why the watermark gates emission): an error
    * at T is resolvable only when the watermark passes T — until then
    * an admissible purchase with pts ≤ T can still arrive and CHANGE
    * the as-of match. Errors therefore buffer until
    * `wm > T` (strict: a purchase arriving exactly AT the watermark is
    * still admissible and may tie-match at pts = T), then emit exactly
    * once — matched or null-padded, like the outer interval forms.
    *
    * State bound (the 100 TB property the unbounded lookback seems to
    * violate): after each emission pass, the purchase list keeps only
    * purchases at-or-after the watermark PLUS the single best one below
    * it — any future error has ets ≥ wm (later arrivals are dropped as
    * late), so its as-of match is either a kept purchase or that one
    * carry-forward row. Per-user state is O(events inside the watermark
    * horizon) + 1, regardless of stream age.
    *
    * Semantics twin: [[asofPurchaseBatch]] ≡ Temporal t13 (the
    * oracle-checked batch query): inclusive `<=`, equal-ts purchases
    * resolved by largest event_id. StreamingSpec pins stream == batch
    * across multi-batch splits, late-but-admissible purchases that
    * REVISE a not-yet-emitted match, and the null-pad path.
    */
  class AsofProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, Event, AsofOut] {
    @transient private var errs:
      org.apache.spark.sql.streaming.ListState[(Long, Long)] = _
    @transient private var purch:
      org.apache.spark.sql.streaming.ListState[(Long, Long, Double)] = _
    override def init(outputMode: OutputMode,
                      timeMode: org.apache.spark.sql.streaming.TimeMode): Unit = {
      errs = getHandle.getListState[(Long, Long)]("errs",
        org.apache.spark.sql.Encoders.product[(Long, Long)],
        org.apache.spark.sql.streaming.TTLConfig.NONE)
      purch = getHandle.getListState[(Long, Long, Double)]("purch",
        org.apache.spark.sql.Encoders.product[(Long, Long, Double)],
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    }
    /** Emit every pending error the watermark has sealed, prune state,
      * and re-arm one timer at the earliest still-pending error. */
    private def emitDue(key: Long, wmUs: Long): Iterator[AsofOut] = {
      val pending = errs.get().toSeq
      val (due, remaining) = pending.partition(_._1 < wmUs)
      val ps = purch.get().toSeq
      val out = due.sorted.map { case (ets, eid) =>
        val eligible = ps.filter(_._1 <= ets)
        val m = if (eligible.isEmpty) None
                else Some(eligible.maxBy(p => (p._1, p._2)))
        AsofOut(eid, key, ets, m.map(_._1), m.map(_._3))
      }
      if (due.nonEmpty) {
        errs.clear()
        if (remaining.nonEmpty) errs.put(remaining.toArray)
        // purchase prune: everything at-or-after the watermark survives,
        // plus the single latest row below it (the carry-forward match
        // for the next error, whose ets is provably ≥ wm)
        val (below, atOrAbove) = ps.partition(_._1 < wmUs)
        val keep = atOrAbove ++
          (if (below.nonEmpty) Seq(below.maxBy(p => (p._1, p._2))) else Nil)
        purch.clear()
        if (keep.nonEmpty) purch.put(keep.toArray)
      }
      getHandle.listTimers().foreach(t => getHandle.deleteTimer(t.asInstanceOf[Long]))
      // wm is ms-grained: the timer that proves wm_us > ets fires at
      // floor(ets/1000) + 1 ms
      remaining.minOption.foreach(e => getHandle.registerTimer(e._1 / 1000L + 1L))
      out.iterator
    }
    override def handleInputRows(key: Long, rows: Iterator[Event],
        tv: org.apache.spark.sql.streaming.TimerValues): Iterator[AsofOut] = {
      rows.foreach { e =>
        if (e.event_type == "error") errs.appendValue((micros(e.ts), e.event_id))
        else if (e.event_type == "purchase")
          purch.appendValue((micros(e.ts), e.event_id, e.value))
      }
      emitDue(key, tv.getCurrentWatermarkInMs() * 1000L)
    }
    override def handleExpiredTimer(key: Long,
        tv: org.apache.spark.sql.streaming.TimerValues,
        info: org.apache.spark.sql.streaming.ExpiredTimerInfo): Iterator[AsofOut] =
      emitDue(key, tv.getCurrentWatermarkInMs() * 1000L)
  }

  def asofPurchaseStream(events: Dataset[Event]): Dataset[AsofOut] = {
    import events.sparkSession.implicits._
    events.filter(e => e.event_type == "error" || e.event_type == "purchase")
      .withWatermark("ts", "2 hours")
      .groupByKey(_.user_id)
      .transformWithState(new AsofProcessor,
        org.apache.spark.sql.streaming.TimeMode.EventTime(), OutputMode.Append())
  }

  /** Batch twin of [[asofPurchaseStream]] — Temporal t13's tagged-union +
    * running `last(…, ignoreNulls)` window, applied to an events frame
    * (t13 itself is the oracle-checked table form). */
  def asofPurchaseBatch(events: DataFrame): DataFrame = {
    val ev = events.filter(col("event_type").isin("error", "purchase"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("user_id")
      .orderBy(col("ts"), (col("event_type") === "error").cast("int"), col("event_id"))
      .rowsBetween(Long.MinValue, 0)
    val lastPurchase = last(
      when(col("event_type") === "purchase",
        struct(unix_micros(col("ts")).as("ts_us"), col("value"))),
      ignoreNulls = true).over(w)
    ev.withColumn("p", lastPurchase)
      .filter(col("event_type") === "error")
      .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("ts_us"),
        col("p.ts_us").as("purchase_ts_us"), col("p.value").as("purchase_value"))
  }

  case class Doc(doc_id: Long, text: String)

  /** Streaming incremental corpus dedup — d24's Bloom-prefiltered
    * formulation (TextOps.bloomIncrementalDedup) over a document-arrival
    * stream: the corpus is sketched ONCE into a broadcast Bloom filter
    * (no false negatives), every micro-batch filters against it
    * row-locally, and only flagged possible-dups pay the exact confirm
    * — a stream-static LEFT ANTI join against the corpus (stateless on
    * the stream side, so append mode needs no watermark). Rows the
    * filter rejects are DEFINITELY new and skip the join entirely.
    *
    * This is the arrival-time shape of the d17/d24 batch operators: the
    * corpus never reshuffles per batch (the 100 TB property), the
    * stream pays O(batch) work, and the union of all emitted batches
    * equals the batch answer — StreamingSpec pins that against d17's
    * oracle-checked result. Batch-internal duplicates are preserved
    * exactly as d17 preserves them (dedup WITHIN the stream is
    * [[dedupEvents]]' job, composable upstream).
    */
  def incrementalDedupStream(incoming: DataFrame, base: DataFrame): DataFrame =
    incrementalDedupStream(incoming, base, buildCorpusSketch(base))

  /** The corpus-side state of [[incrementalDedupStream]], built ONCE per
    * corpus version: the serialized Bloom filter plus the version tag
    * that says which corpus snapshot it sketches. A long-running stream
    * holds one of these and swaps it only when the corpus itself
    * changes — re-calling the convenience overload per restart would
    * re-count and re-sketch the full corpus each time, a full corpus
    * scan that a 100 TB deployment pays at most once per corpus
    * VERSION, not once per stream (re)start. The filter travels as the
    * binary blob `might_contain` consumes directly, so the probe stays
    * inside whole-stage codegen (no UDF, no broadcast handle).
    */
  final case class CorpusSketch(version: Long, bloomBytes: Array[Byte])

  /** Builds a [[CorpusSketch]]: one corpus count + one distributed
    * `bloom_filter_agg` build (no false negatives at ~3% false
    * positives) — [[graft.functions.GraftBloom]].
    */
  def buildCorpusSketch(base: DataFrame, version: Long = 0L,
      fpp: Double = 0.03): CorpusSketch = {
    val n = math.max(base.count(), 1L)
    CorpusSketch(version,
      graft.functions.GraftBloom.buildBytes(base, col("text"), n, fpp))
  }

  /** Sketch-injected form: `base` is only consulted for the exact-confirm
    * anti-join on rows the (prebuilt) filter flags — the corpus is never
    * re-counted or re-sketched here.
    */
  def incrementalDedupStream(incoming: DataFrame, base: DataFrame,
      sketch: CorpusSketch): DataFrame = {
    val might = graft.functions.GraftBloom.mightContain(sketch.bloomBytes, col("text"))
    val definitelyNew = incoming.filter(!might).select("doc_id")
    val candidates = incoming.filter(might)
      .join(base.select("text"), Seq("text"), "left_anti")
      .select("doc_id")
    definitelyNew.union(candidates)
  }

  /** Idempotent incremental parquet sink via foreachBatch: each micro-batch
    * lands in its own `batch_id=` directory with overwrite mode, so a
    * retried batch replaces its previous (possibly partial) output instead
    * of duplicating it — the standard exactly-once-to-storage recipe when
    * the sink itself is not transactional. Pair with
    * `Trigger.AvailableNow` for an incremental batch job; the checkpoint
    * (caller-provided via `.option("checkpointLocation", …)`) carries the
    * batch-id watermark across restarts.
    */
  def incrementalParquetSink(events: DataFrame, outDir: String): DataStreamWriter[Row] =
    events.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      batch.write.mode("overwrite").parquet(s"$outDir/batch_id=$batchId")
    }

  /** Batch twin of [[dedupEvents]] for equivalence testing (batch frames
    * have no state horizon, so it is a plain exact dedup keeping an
    * arbitrary-but-deterministic first row per id).
    */
  def dedupEventsBatch(events: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("event_id").orderBy(col("ts"))
    events.withColumn("rn", row_number().over(w)).filter(col("rn") === 1).drop("rn")
  }

  /** Stream-static enrichment against a LIVE [[cdcApplyParquetSink]]
    * table, re-resolving the newest committed version at every
    * micro-batch — the slowly-changing-dimension join done right on a
    * streaming pipeline. A plain `stream.join(readCdcTable(...))` would
    * freeze the dimension at the version resolved when the query was
    * PLANNED: `readCdcTable` pins one resolved version, so dimension
    * updates committed while the stream runs are silently ignored — the
    * classic stale-dimension bug. Resolving inside `foreachBatch` makes
    * each batch read the version current at ITS start, so an upsert
    * committed between batches is visible to the next batch (eventual
    * per-batch freshness — the same contract Delta/Iceberg stream-static
    * joins give when the static side is a table, not a path).
    *
    * Join posture: the CDC table is dimension-sized (one row per key);
    * the broadcast hint keeps every batch a map-side hash join — the
    * fact side (the stream) never shuffles. `retain ≥ 2` on the sink is
    * what makes this race-safe: a version superseded mid-batch stays
    * readable until the NEXT commit prunes it (the read lease of
    * [[SegmentChain]]).
    *
    * `enrich` receives (batch ⟕ dimension) rows — left join, so stream
    * rows with no dimension entry survive with nulls (an inner join
    * would silently drop early events racing their dimension upsert).
    */
  def enrichAgainstCdcTable(events: DataFrame, tableDir: String,
      joinKey: String)(
      sink: (DataFrame, Long) => Unit): DataStreamWriter[Row] =
    events.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      val dim = readCdcTable(batch.sparkSession, tableDir)
      val enriched = dim match {
        case Some(d) => batch.join(broadcast(d), Seq(joinKey), "left")
        // No committed dimension yet: fail fast. Passing the bare batch
        // through would emit a NARROWER schema than every later batch
        // (no dimension columns), so a schema-strict sink would fail at
        // an unpredictable batch mid-stream instead of at start — and a
        // lenient one would silently persist schema-unstable output.
        // The contract is: commit the dimension's first version before
        // starting the stream.
        case None => throw new IllegalStateException(
          s"enrichAgainstCdcTable: no committed CDC version under $tableDir " +
          "— commit the dimension's first version (applyCdcBatch / " +
          "cdcApplyParquetSink) before starting the enrichment stream, so " +
          "every micro-batch carries the joined schema from batch 0")
      }
      sink(enriched, batchId)
    }

  /** Batch twin of [[latestPerUser]] for equivalence testing. */
  def latestPerUserBatch(events: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("ts").desc, col("event_id").desc)
    events
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("ts").as("last_ts"), col("value").as("last_value"))
  }
}
