package graft

import graft.streaming.StreamOps
import graft.streaming.StreamOps.Event
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Streaming queries must agree with their oracle-checked batch twins on
  * identical input (SURVEY §7.5.10: keep batch twins of every streaming
  * query).
  */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def sampleEvents(n: Int): Seq[Event] =
    Tables.events(spark, sf0001)
      .select("event_id", "ts", "user_id", "event_type", "value")
      .as[Event]
      .orderBy("event_id")
      .take(n).toSeq

  private def runToTable(df: org.apache.spark.sql.DataFrame, name: String,
                         mode: String): Unit = {
    val q = df.writeStream.format("memory").queryName(name).outputMode(mode).start()
    try q.processAllAvailable() finally q.stop()
  }

  /** transformWithState with >1 state variable (or timers + state) needs
    * the RocksDB provider — HDFSBackedStateStoreProvider rejects multiple
    * column families. */
  private def withRocksDbStateStore[A](body: => A): A = {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try body finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("streaming tumbling hourly equals its batch twin") {
    implicit val ctx = spark.sqlContext
    val data = sampleEvents(500)
    val ms = MemoryStream[Event]
    ms.addData(data)
    runToTable(StreamOps.tumblingHourly(ms.toDF()), "tum_stream", "complete")
    val streamed = spark.table("tum_stream").orderBy("bucket_us", "event_type").collect()
    val batch = StreamOps.tumblingHourly(data.toDF()).orderBy("bucket_us", "event_type").collect()
    assert(streamed.nonEmpty)
    assert(streamed.toSeq == batch.toSeq)
  }

  test("streaming sliding window equals its batch twin") {
    implicit val ctx = spark.sqlContext
    val data = sampleEvents(300)
    val ms = MemoryStream[Event]
    ms.addData(data)
    runToTable(StreamOps.slidingTwoHour(ms.toDF()), "sli_stream", "complete")
    val streamed = spark.table("sli_stream").orderBy("bucket_us", "event_type").collect()
    val batch = StreamOps.slidingTwoHour(data.toDF()).orderBy("bucket_us", "event_type").collect()
    assert(streamed.nonEmpty)
    assert(streamed.toSeq == batch.toSeq)
    // every event lands in exactly 2 sliding buckets
    assert(streamed.map(_.getLong(2)).sum == 2L * data.size)
  }

  test("streaming histogram sketch equals batch twin and bounds per-window P95 error") {
    implicit val ctx = spark.sqlContext
    val data = sampleEvents(800)
    val lo = 0.0; val hi = 500.0 // pinned metric bounds (events.value range)
    val ms = MemoryStream[Event]
    ms.addData(data)
    runToTable(StreamOps.hourlyValueHistogram(ms.toDF(), lo, hi), "hist_stream", "complete")
    val streamed = spark.table("hist_stream").orderBy("bucket_us", "bin").collect()
    val batch = StreamOps.hourlyValueHistogram(data.toDF(), lo, hi)
      .orderBy("bucket_us", "bin").collect()
    assert(streamed.nonEmpty && streamed.toSeq == batch.toSeq)

    // The distribution-free histogram guarantee is on RANK, not value (a
    // sparse window's interpolating percentile can sit a whole value-gap
    // away from any bin edge): taking est = upper edge of the bin where
    // the cumulative count crosses 0.95·n guarantees CDF(est) ≥ 0.95 and
    // P(v < est − binW) < 0.95 (strict: a value exactly on the hit bin's
    // lower edge belongs to the bin). Pin exactly that on the raw values.
    val binW = (hi - lo) / 32
    val p95FromSketch = streamed.groupBy(_.getLong(0)).map { case (w, rows) =>
      val bins = rows.map(r => r.getInt(1) -> r.getLong(2)).sortBy(_._1)
      val target = 0.95 * bins.map(_._2).sum
      var cum = 0L
      val hit = bins.find { case (_, c) => cum += c; cum >= target }.get._1
      w -> (lo + (hit + 1) * binW) // upper edge of the hit bin
    }
    val byWindow = data.groupBy(e =>
      e.ts.getTime / 3600000 * 3600000000000L / 1000) // epoch-µs hour floor
    p95FromSketch.foreach { case (w, est) =>
      val vs = byWindow(w).map(_.value)
      val below = vs.count(_ <= est).toDouble / vs.size
      val belowPrev = vs.count(_ < est - binW).toDouble / vs.size
      assert(below >= 0.95 && belowPrev < 0.95,
        s"window $w est $est: CDF(est)=$below CDF(est-binW)=$belowPrev")
    }
  }

  test("streaming KMV distinct sketch equals batch twin across micro-batches") {
    implicit val ctx = spark.sqlContext
    val data = sampleEvents(800)
    val ms = MemoryStream[Event]
    // two micro-batches: the per-window sketch must merge incrementally in
    // the state store, not just aggregate a single batch
    val (b1, b2) = data.splitAt(data.size / 2)
    ms.addData(b1)
    ms.addData(b2)
    // k=8 << users/hour so the estimator branch (not the exact-fill branch)
    // is what streaming and batch must agree on
    runToTable(StreamOps.hourlyDistinctUsersKmv(ms.toDF(), 8), "kmv_stream", "complete")
    val streamed = spark.table("kmv_stream").orderBy("bucket_us").collect()
    val batch = StreamOps.hourlyDistinctUsersKmv(data.toDF(), 8)
      .orderBy("bucket_us").collect()
    assert(streamed.nonEmpty && streamed.toSeq == batch.toSeq)
    // exact regime: a sketch that never filled must report the true count
    val exactByHour = data.groupBy(e => e.ts.getTime / 3600000 * 3600000000L)
      .map { case (w, es) => w -> es.map(_.user_id).distinct.size.toLong }
    streamed.foreach { r =>
      val (w, est, fill) = (r.getLong(0), r.getLong(1), r.getInt(2))
      if (fill < 8) assert(est == exactByHour(w),
        s"window $w under-filled sketch must be exact: $est vs ${exactByHour(w)}")
      else assert(est > 0)
    }
  }

  test("streaming heavy-hitter users equal batch twin; exact at full capacity") {
    implicit val ctx = spark.sqlContext
    val data = sampleEvents(800)
    val ms = MemoryStream[Event]
    val (b1, b2) = data.splitAt(data.size / 2)
    ms.addData(b1)
    ms.addData(b2)
    // capacity far above distinct users/hour → MG never evicts → counters
    // are exact and merge-order-insensitive, so the two micro-batches must
    // reproduce the batch result bit-for-bit
    runToTable(StreamOps.hourlyHeavyHitterUsers(ms.toDF(), 3, 1024), "hh_stream", "complete")
    val streamed = spark.table("hh_stream").orderBy("bucket_us", "rank").collect()
    val batch = StreamOps.hourlyHeavyHitterUsers(data.toDF(), 3, 1024)
      .orderBy("bucket_us", "rank").collect()
    assert(streamed.nonEmpty && streamed.toSeq == batch.toSeq)
    // exact regime cross-check: top-3 per hour recomputed driver-side with
    // the aggregator's (-count, token-string) tie-break
    val byHour = data.groupBy(e => e.ts.getTime / 3600000 * 3600000000L)
    streamed.groupBy(_.getLong(0)).foreach { case (w, rows) =>
      val expected = byHour(w).groupBy(_.user_id).view
        .mapValues(_.size.toLong).toSeq
        .sortBy { case (u, c) => (-c, u.toString) }.take(3)
      val got = rows.sortBy(_.getInt(1)).map(r => (r.getLong(2), r.getLong(3))).toSeq
      assert(got == expected, s"window $w: $got vs $expected")
    }
    // under-capacity regime: emitted counts are lower bounds within
    // n_window/(capacity+1) of truth
    val small = StreamOps.hourlyHeavyHitterUsers(data.toDF(), 3, 4).collect()
    small.foreach { r =>
      val (w, u, est) = (r.getLong(0), r.getLong(2), r.getLong(3))
      val winEvents = byHour(w)
      val truth = winEvents.count(_.user_id == u).toLong
      val bound = winEvents.size / 5 // n/(capacity+1)
      assert(est <= truth && truth - est <= bound,
        s"window $w user $u: est=$est truth=$truth bound=$bound")
    }
  }

  test("streaming SCD2 intervals reconcile to the oracle-checked batch t23") {
    implicit val ctx = spark.sqlContext
    // globally ts-ordered feed (per-user order is the op's contract)
    val data = sampleEvents(600)
      .sortBy(e => (e.ts.getTime, e.ts.getNanos, e.event_id))
    val ms = MemoryStream[Event]
    val (b1, b2) = data.splitAt(data.size / 2)
    ms.addData(b1)
    ms.addData(b2)
    val q = StreamOps.stateIntervalsStream(ms.toDS()).writeStream
      .format("memory").queryName("scd_stream").outputMode("update").start()
    try q.processAllAvailable() finally q.stop()
    // Update-mode reconciliation: a closed interval is emitted exactly once
    // and is final; an open interval is re-upserted per batch — keep the
    // version with the highest count.
    def us(t: java.sql.Timestamp): Long =
      t.toInstant.getEpochSecond * 1000000L + t.getNanos / 1000
    val streamed = spark.table("scd_stream").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3),
        us(r.getTimestamp(4)),
        Option(r.getTimestamp(5)).map(us)))
      .groupBy(t => (t._1, t._2))
      .map { case (_, versions) =>
        versions.find(_._6.isDefined).getOrElse(versions.maxBy(_._4))
      }.toSet
    // batch twin over the same subset, via a temp events table
    import java.nio.file.Files
    val dir = Files.createTempDirectory("scd").toString
    data.toDF()
      .withColumn("ts", expr("unix_micros(ts) * 1000"))
      .write.parquet(s"$dir/events.parquet")
    val batch = graft.operators.Temporal.stateIntervals(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3),
        r.getLong(4), if (r.isNullAt(5)) None else Some(r.getLong(5)))).toSet
    val onlyS = streamed -- batch
    val onlyB = batch -- streamed
    assert(streamed.nonEmpty && streamed == batch,
      s"only-streamed(${onlyS.size}): ${onlyS.take(5)}\nonly-batch(${onlyB.size}): ${onlyB.take(5)}")
  }

  test("streaming session windows equal batch session windows") {
    implicit val ctx = spark.sqlContext
    val data = sampleEvents(400)
    val ms = MemoryStream[Event]
    ms.addData(data)
    runToTable(StreamOps.userSessionWindows(ms.toDF()), "sess_stream", "complete")
    val streamed = spark.table("sess_stream").orderBy("user_id", "start_us").collect()
    val batch = StreamOps.userSessionWindows(data.toDF()).orderBy("user_id", "start_us").collect()
    assert(streamed.nonEmpty)
    assert(streamed.toSeq == batch.toSeq)
  }

  test("streaming dedup-within-watermark collapses duplicate deliveries") {
    implicit val ctx = spark.sqlContext
    val data = sampleEvents(200)
    val dup = data ++ data.take(50) // simulate at-least-once redelivery
    val ms = MemoryStream[Event]
    ms.addData(dup)
    runToTable(StreamOps.dedupEvents(ms.toDF()), "dedup_stream", "append")
    val streamed = spark.table("dedup_stream")
      .select("event_id", "user_id", "value").orderBy("event_id").collect()
    val batch = StreamOps.dedupEventsBatch(dup.toDF())
      .select("event_id", "user_id", "value").orderBy("event_id").collect()
    assert(streamed.length == data.size) // one row per distinct event_id
    assert(streamed.toSeq == batch.toSeq)
  }

  test("stream-stream interval join equals the oracle-checked batch twin (t16)") {
    implicit val ctx = spark.sqlContext
    val data = sampleEvents(500)
    val errs = MemoryStream[Event]; val purs = MemoryStream[Event]
    errs.addData(data.filter(_.event_type == "error"))
    purs.addData(data.filter(_.event_type == "purchase"))
    runToTable(StreamOps.purchasesNearErrors(errs.toDF(), purs.toDF()), "ssj_stream", "append")
    val streamed = spark.table("ssj_stream")
      .orderBy("error_id", "purchase_id").collect()
    val batchInput = data.toDF()
    val err = batchInput.filter(col("event_type") === "error")
    val pur = batchInput.filter(col("event_type") === "purchase")
    val batch = StreamOps.purchasesNearErrors(err, pur)
      .orderBy("error_id", "purchase_id").collect()
    assert(streamed.nonEmpty)
    assert(streamed.toSeq == batch.toSeq)
  }

  test("stream-stream LEFT OUTER interval join: null rows emit at the watermark, result equals the t46 batch twin") {
    implicit val ctx = spark.sqlContext
    val data = sampleEvents(500)
    val maxMs = data.map(_.ts.getTime).max
    val errs = MemoryStream[Event]; val purs = MemoryStream[Event]
    val q = StreamOps.purchasesNearErrorsOuter(errs.toDF(), purs.toDF())
      .writeStream.format("memory").queryName("ssj_outer").outputMode("append").start()
    try {
      errs.addData(data.filter(_.event_type == "error"))
      purs.addData(data.filter(_.event_type == "purchase"))
      q.processAllAvailable()
      // Outer null rows only emit once the watermark seals an error's
      // fate; a far-future flush event on BOTH sides (distinct users, so
      // it matches nothing real) pushes the watermark past every error.
      val flushTs = new java.sql.Timestamp(maxMs + 10L * 3600 * 1000)
      errs.addData(Event(999999L, flushTs, 999999L, "error", 0.0))
      purs.addData(Event(999998L, flushTs, 999998L, "purchase", 0.0))
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("ssj_outer").filter(col("error_id") < 999999L)
      .orderBy("error_id", "purchase_id").collect()
    val batchInput = data.toDF()
    val batch = StreamOps.purchasesNearErrorsOuter(
        batchInput.filter(col("event_type") === "error"),
        batchInput.filter(col("event_type") === "purchase"))
      .orderBy("error_id", "purchase_id").collect()
    assert(streamed.nonEmpty)
    // the outer join must add genuinely unmatched errors as null rows
    assert(streamed.exists(_.isNullAt(1)), "expected null-padded errors")
    assert(streamed.count(!_.isNullAt(1)) > 0, "expected matched errors too")
    assert(streamed.toSeq == batch.toSeq)
  }

  test("stream-stream FULL OUTER interval join: both null sides emit at the watermark, result equals the t47 batch twin") {
    implicit val ctx = spark.sqlContext
    val data = sampleEvents(500)
    val maxMs = data.map(_.ts.getTime).max
    val errs = MemoryStream[Event]; val purs = MemoryStream[Event]
    val q = StreamOps.purchasesNearErrorsFullOuter(errs.toDF(), purs.toDF())
      .writeStream.format("memory").queryName("ssj_full").outputMode("append").start()
    try {
      errs.addData(data.filter(_.event_type == "error"))
      purs.addData(data.filter(_.event_type == "purchase"))
      q.processAllAvailable()
      val flushTs = new java.sql.Timestamp(maxMs + 10L * 3600 * 1000)
      errs.addData(Event(999999L, flushTs, 999999L, "error", 0.0))
      purs.addData(Event(999998L, flushTs, 999998L, "purchase", 0.0))
      q.processAllAvailable()
    } finally q.stop()
    // drop the two flush rows (they surface as unmatched outer rows);
    // null keys sort NULLS LAST to match the batch twin's pinned order
    val streamed = spark.table("ssj_full")
      .filter((col("error_id").isNull || col("error_id") < 999999L) &&
        (col("purchase_id").isNull || col("purchase_id") < 999998L))
      .orderBy(col("error_id").asc_nulls_last, col("purchase_id").asc_nulls_last)
      .collect()
    val batchInput = data.toDF()
    val batch = StreamOps.purchasesNearErrorsFullOuter(
        batchInput.filter(col("event_type") === "error"),
        batchInput.filter(col("event_type") === "purchase"))
      .orderBy(col("error_id").asc_nulls_last, col("purchase_id").asc_nulls_last)
      .collect()
    assert(streamed.nonEmpty)
    assert(streamed.exists(_.isNullAt(1)), "expected null-padded errors")
    assert(streamed.exists(_.isNullAt(0)), "expected null-padded purchases")
    assert(streamed.count(r => !r.isNullAt(0) && !r.isNullAt(1)) > 0,
      "expected matched pairs too")
    assert(streamed.toSeq == batch.toSeq)
  }

  test("transformWithState running stats (RocksDB store) equal the batch window twin") {
    implicit val ctx = spark.sqlContext
    def us(t: java.sql.Timestamp): Long =
      t.getTime * 1000L + (t.getNanos % 1000000) / 1000L
    // time-sorted batches: the cross-batch fold order then matches the
    // batch twin's (ts, event_id) window order exactly
    val data = sampleEvents(500).sortBy(e => (us(e.ts), e.event_id))
    val (b1, b2) = data.splitAt(250)
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val ms = MemoryStream[Event]
      val q = StreamOps.runningStatsStream(ms.toDS()).writeStream
        .format("memory").queryName("tws_stats").outputMode("append").start()
      try {
        ms.addData(b1); q.processAllAvailable()
        ms.addData(b2); q.processAllAvailable()
      } finally q.stop()
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
    val streamed = spark.table("tws_stats").orderBy("event_id").collect()
    val batch = StreamOps.runningStatsBatch(data.toDF())
      .select("user_id", "event_id", "ts_us", "value", "n_before", "mean_before")
      .orderBy("event_id").collect()
    assert(streamed.length == data.size)
    assert(streamed.exists(_.getLong(4) > 0), "some events must carry history")
    assert(streamed.toSeq == batch.toSeq)
  }

  test("streaming as-of join equals the t13 batch twin across micro-batches") {
    implicit val ctx = spark.sqlContext
    def us(t: java.sql.Timestamp): Long =
      t.getTime * 1000L + (t.getNanos % 1000000) / 1000L
    // time-sorted split: batch 2's rows all carry ts ≥ batch 1's max, so
    // nothing is watermark-late and the stream must equal the batch twin
    val data = sampleEvents(500)
      .filter(e => e.event_type == "error" || e.event_type == "purchase")
      .sortBy(e => (us(e.ts), e.event_id))
    val maxMs = data.map(_.ts.getTime).max
    val (b1, b2) = data.splitAt(data.size / 2)
    withRocksDbStateStore {
      val ms = MemoryStream[Event]
      val q = StreamOps.asofPurchaseStream(ms.toDS()).toDF().writeStream
        .format("memory").queryName("asof_stream").outputMode("append").start()
      try {
        ms.addData(b1); q.processAllAvailable()
        ms.addData(b2); q.processAllAvailable()
        // errors seal only once the watermark passes them: far-future flush
        val flushTs = new java.sql.Timestamp(maxMs + 10L * 3600 * 1000)
        ms.addData(Event(999999L, flushTs, 999999L, "purchase", 0.0))
        q.processAllAvailable()
      } finally q.stop()
    }
    val streamed = spark.table("asof_stream").orderBy("event_id").collect()
    val batch = StreamOps.asofPurchaseBatch(data.toDF())
      .orderBy("event_id").collect()
    assert(streamed.length == data.count(_.event_type == "error"))
    assert(streamed.exists(!_.isNullAt(3)), "some errors must match a purchase")
    assert(streamed.exists(_.isNullAt(3)), "some errors must null-pad")
    assert(streamed.toSeq == batch.toSeq)
  }

  test("as-of join: an admissible out-of-order purchase revises a pending match") {
    implicit val ctx = spark.sqlContext
    // P1(t=0h) and E1(t=1h) arrive first; E1 is NOT resolvable yet (the
    // 2h watermark sits below it), so when P2(t=0.5h) arrives in a LATER
    // batch it must still win the as-of match — the eager formulation
    // (match at arrival) would wrongly freeze P1. E2 has no purchase at
    // all and must null-pad at flush.
    val H = 100L * 3600 * 1000 // epoch-offset base, ms
    def ev(id: Long, u: Long, tpe: String, offMin: Long, v: Double) =
      Event(id, new java.sql.Timestamp(H + offMin * 60000L), u, tpe, v)
    withRocksDbStateStore {
      val ms = MemoryStream[Event]
      val q = StreamOps.asofPurchaseStream(ms.toDS()).toDF().writeStream
        .format("memory").queryName("asof_revise").outputMode("append").start()
      try {
        ms.addData(ev(10, 1, "purchase", 0, 5.0), ev(11, 1, "error", 60, 0.0))
        q.processAllAvailable()
        ms.addData(ev(12, 1, "purchase", 30, 7.0), ev(13, 2, "error", 60, 0.0))
        q.processAllAvailable()
        ms.addData(ev(999, 999, "purchase", 100 * 60, 0.0)) // watermark flush
        q.processAllAvailable()
      } finally q.stop()
    }
    val rows = spark.table("asof_revise").orderBy("event_id").collect()
    assert(rows.length == 2, rows.mkString(";"))
    // E1 matched P2 (t=30min), not the earlier-arriving P1
    assert(rows(0).getLong(0) == 11L && rows(0).getLong(3) == (H + 30 * 60000L) * 1000L
      && rows(0).getDouble(4) == 7.0, rows(0).toString)
    // E2 null-pads: user 2 never purchased
    assert(rows(1).getLong(0) == 13L && rows(1).isNullAt(3) && rows(1).isNullAt(4))
  }

  test("transformWithState event-time-timer sessionizer equals the session_window batch twin") {
    implicit val ctx = spark.sqlContext
    def us(t: java.sql.Timestamp): Long =
      t.getTime * 1000L + (t.getNanos % 1000000) / 1000L
    val data = sampleEvents(500).sortBy(e => (us(e.ts), e.event_id))
    val (b1, b2) = data.splitAt(250)
    val maxMs = data.map(_.ts.getTime).max
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val ms = MemoryStream[Event]
      val q = StreamOps.sessionTimerStream(ms.toDS()).writeStream
        .format("memory").queryName("tws_sessions").outputMode("append").start()
      try {
        ms.addData(b1); q.processAllAvailable()
        ms.addData(b2); q.processAllAvailable()
        // flush: the watermark must pass every open session's end so the
        // timers fire; the flush user's own session is excluded below
        ms.addData(Event(999999L,
          new java.sql.Timestamp(maxMs + 10L * 3600 * 1000), 999999L, "flush", 0.0))
        q.processAllAvailable()
      } finally q.stop()
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
    val streamed = spark.table("tws_sessions")
      .filter(col("user_id") =!= 999999L)
      .orderBy("user_id", "start_us").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
    val batch = StreamOps.userSessionWindows(data.toDF())
      .orderBy("user_id", "start_us").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
    assert(streamed.nonEmpty, "sessionizer emitted nothing")
    assert(streamed.length > data.map(_.user_id).distinct.size,
      "fixture should contain gap-split sessions, not one per user")
    assert(streamed.toSeq == batch.toSeq)
  }

  test("sessionizer merges a watermark-admissible out-of-order arrival backward") {
    implicit val ctx = spark.sqlContext
    def ev(id: Long, min: Long): Event = Event(id, java.sql.Timestamp.valueOf(
      java.time.LocalDateTime.of(2025, 1, 1, 0, 0).plusMinutes(min)), 1L, "x", 1.0)
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val ms = MemoryStream[Event]
      val q = StreamOps.sessionTimerStream(ms.toDS()).writeStream
        .format("memory").queryName("tws_ooo").outputMode("append").start()
      try {
        ms.addData(ev(1, 60)); q.processAllAvailable()   // open [60, 90)
        // batch 2 arrives out of order but inside the 2h watermark: 45 sits
        // within the gap BEFORE the open start (backward merge), 80 inside
        // the window — neither may regress the end or split the session
        ms.addData(ev(2, 45), ev(3, 80)); q.processAllAvailable()
        ms.addData(ev(4, 60 * 24)); q.processAllAvailable() // flush timer
      } finally q.stop()
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
    val out = spark.table("tws_ooo").filter(col("n_events") < 4)
      .orderBy("start_us").collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
    def us(min: Long) = ev(0, min).ts.getTime * 1000L
    // one merged session [45, 80+30) with all three events — exactly what
    // session_window(ts, 30 min) produces on the same rows
    assert(out.toSeq == Seq((us(45), us(110), 3L, 3.0)), out.mkString(","))
  }

  test("sessionizer merges exact-gap touching events like session_window does") {
    implicit val ctx = spark.sqlContext
    def ev(id: Long, min: Long): Event = Event(id, java.sql.Timestamp.valueOf(
      java.time.LocalDateTime.of(2025, 1, 1, 0, 0).plusMinutes(min)), 1L, "x", 1.0)
    // events exactly 30 min apart: Spark's MergingSessionsIterator merges
    // touching windows (newStart <= currentEnd) — the stream must agree
    val data = Seq(ev(1, 0), ev(2, 30), ev(3, 60))
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val ms = MemoryStream[Event]
      val q = StreamOps.sessionTimerStream(ms.toDS()).writeStream
        .format("memory").queryName("tws_touch").outputMode("append").start()
      try {
        ms.addData(data.take(2)); q.processAllAvailable()
        ms.addData(data.drop(2)); q.processAllAvailable() // cross-batch touch
        ms.addData(ev(4, 60 * 24)); q.processAllAvailable()
      } finally q.stop()
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
    val streamed = spark.table("tws_touch").filter(col("n_events") < 4)
      .orderBy("start_us").collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
    val batch = StreamOps.userSessionWindows(data.toDF())
      .orderBy("start_us").collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
    assert(batch.length == 1, s"batch twin should merge touches: ${batch.toSeq}")
    assert(streamed.toSeq == batch.toSeq, s"${streamed.toSeq} vs ${batch.toSeq}")
  }

  test("watermark drops events later than the 2h bound (append mode)") {
    implicit val ctx = spark.sqlContext
    def ev(id: Long, hourOffsetMin: Long): Event =
      Event(id, java.sql.Timestamp.valueOf(
        java.time.LocalDateTime.of(2025, 1, 1, 0, 0).plusMinutes(hourOffsetMin)),
        user_id = 1L, event_type = "click", value = 1.0)
    val ms = MemoryStream[Event]
    val q = StreamOps.tumblingHourly(ms.toDF())
      .writeStream.format("memory").queryName("late_stream").outputMode("append").start()
    try {
      // batch A: window [00:00,01:00) gets one event; an event 10h later
      // advances the watermark to 08:00, finalizing (and emitting) that window
      ms.addData(Seq(ev(1, 0), ev(2, 600)))
      q.processAllAvailable()
      // batch B: a LATE event back at 00:30 — 7.5h behind the watermark —
      // must be dropped, not resurrect the finalized window
      ms.addData(Seq(ev(3, 30)))
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("late_stream")
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val w0 = java.sql.Timestamp.valueOf("2025-01-01 00:00:00").getTime * 1000L
    assert(rows(w0) == 1L, s"late event not dropped: $rows")
    // the batch twin (no watermark effect on static frames) counts BOTH
    val batch = StreamOps.tumblingHourly(Seq(ev(1, 0), ev(2, 600), ev(3, 30)).toDF())
      .filter(col("bucket_us") === w0).select("n").first().getLong(0)
    assert(batch == 2L)
  }

  test("tumbling out-of-order fixture: exact dropped-row count vs watermark-filtered batch twin") {
    // Multi-batch out-of-order delivery with a deterministic watermark
    // schedule (wm after a batch = max event time seen − 2h; a window is
    // finalized once its END ≤ wm, and late rows into finalized windows
    // are DROPPED). Every case sits strictly off the boundary so the
    // expected kept/dropped split is unambiguous.
    implicit val ctx = spark.sqlContext
    def ev(id: Long, min: Long): Event =
      Event(id, java.sql.Timestamp.valueOf(
        java.time.LocalDateTime.of(2025, 1, 1, 0, 0).plusMinutes(min)),
        user_id = 1L, event_type = "click", value = 1.0)
    val batchA = Seq(ev(1, 10), ev(2, 40), ev(3, 80), ev(4, 720)) // wm → 10:00
    val batchB = Seq(
      ev(5, 30),   // [00:00,01:00) end ≤ 10:00 → dropped
      ev(6, 90),   // [01:00,02:00) end ≤ 10:00 → dropped
      ev(7, 510),  // [08:00,09:00) end ≤ 10:00 → dropped
      ev(8, 630),  // [10:00,11:00) end 11:00 > 10:00 → kept (behind max, not late)
      ev(9, 690),  // [11:00,12:00) → kept
      ev(10, 780)) // 13:00 → kept; wm → 11:00
    val batchC = Seq(ev(11, 1200)) // 20:00 flushes everything through 18:00
    val dropped = Set(5L, 6L, 7L)

    val ms = MemoryStream[Event]
    val q = StreamOps.tumblingHourly(ms.toDF())
      .writeStream.format("memory").queryName("ooo_stream").outputMode("append").start()
    try {
      ms.addData(batchA); q.processAllAvailable()
      ms.addData(batchB); q.processAllAvailable()
      ms.addData(batchC); q.processAllAvailable()
      // the ENGINE's own accounting must agree with the schedule above
      val engineDropped = q.recentProgress
        .flatMap(_.stateOperators).map(_.numRowsDroppedByWatermark).sum
      assert(engineDropped == dropped.size,
        s"engine dropped $engineDropped rows, schedule says ${dropped.size}")
    } finally q.stop()

    val flushCut = java.sql.Timestamp.valueOf("2025-01-01 20:00:00").getTime * 1000L
    val streamed = spark.table("ooo_stream")
      .filter(col("bucket_us") < flushCut) // batchC's own window is still open
      .orderBy("bucket_us").collect()
    val kept = (batchA ++ batchB ++ batchC).filterNot(e => dropped(e.event_id))
    val twin = StreamOps.tumblingHourly(kept.toDF())
      .filter(col("bucket_us") < flushCut)
      .orderBy("bucket_us").collect()
    assert(streamed.nonEmpty)
    assert(streamed.toSeq == twin.toSeq,
      "stream must equal the batch twin over exactly the non-late rows")
  }

  test("session out-of-order fixture: exact dropped-row count vs watermark-filtered batch twin") {
    // Same discipline for session windows (30-min gap): a late row whose
    // provisional session [ts, ts+gap) ends ≤ wm is dropped — including
    // one that would have MERGED into an already-finalized session.
    implicit val ctx = spark.sqlContext
    def ev(id: Long, user: Long, min: Long): Event =
      Event(id, java.sql.Timestamp.valueOf(
        java.time.LocalDateTime.of(2025, 1, 1, 0, 0).plusMinutes(min)),
        user_id = user, event_type = "click", value = 1.0)
    val batchA = Seq(ev(1, 1, 0), ev(2, 1, 10), ev(3, 1, 20), // u1 session 1
      ev(4, 1, 90),                                           // u1 session 2
      ev(5, 2, 5),                                            // u2 session
      ev(6, 9, 720))                                          // wm → 10:00
    val batchB = Seq(
      ev(7, 1, 15),  // would merge into u1 session 1 (end 00:45 ≤ wm) → dropped
      ev(8, 2, 540), // new session [09:00,09:30) end ≤ wm → dropped
      ev(9, 1, 630), // new session [10:30,11:00) end > wm → kept
      ev(10, 9, 840)) // 14:00 → kept; wm → 12:00
    val batchC = Seq(ev(11, 9, 1200)) // 20:00 → wm 18:00 flushes 14:00 session
    val dropped = Set(7L, 8L)

    val ms = MemoryStream[Event]
    val q = StreamOps.userSessionWindows(ms.toDF())
      .writeStream.format("memory").queryName("ooo_sess").outputMode("append").start()
    try {
      ms.addData(batchA); q.processAllAvailable()
      ms.addData(batchB); q.processAllAvailable()
      ms.addData(batchC); q.processAllAvailable()
      val engineDropped = q.recentProgress
        .flatMap(_.stateOperators).map(_.numRowsDroppedByWatermark).sum
      assert(engineDropped == dropped.size,
        s"engine dropped $engineDropped rows, schedule says ${dropped.size}")
    } finally q.stop()

    val flushCut = java.sql.Timestamp.valueOf("2025-01-01 20:00:00").getTime * 1000L
    val streamed = spark.table("ooo_sess")
      .filter(col("start_us") < flushCut)
      .orderBy("user_id", "start_us").collect()
    val kept = (batchA ++ batchB ++ batchC).filterNot(e => dropped(e.event_id))
    val twin = StreamOps.userSessionWindows(kept.toDF())
      .filter(col("start_us") < flushCut)
      .orderBy("user_id", "start_us").collect()
    assert(streamed.nonEmpty)
    assert(streamed.toSeq == twin.toSeq,
      "session stream must equal the batch twin over exactly the non-late rows")
  }

  test("streaming CM sketch equals its batch twin cell-wise and never undercounts") {
    implicit val ctx = spark.sqlContext
    val data = sampleEvents(500)
    val ms = MemoryStream[Event]
    ms.addData(data.take(250))
    val q = StreamOps.hourlyUserCms(ms.toDF())
      .writeStream.format("memory").queryName("cms_stream").outputMode("complete").start()
    try {
      q.processAllAvailable()
      ms.addData(data.drop(250)) // cells must merge by addition across batches
      q.processAllAvailable()
    } finally q.stop()
    def key(r: org.apache.spark.sql.Row) = (r.getLong(0), r.getInt(1), r.getLong(2))
    val streamed = spark.table("cms_stream").collect()
      .map(r => key(r) -> r.getLong(3)).toMap
    val batch = StreamOps.hourlyUserCms(data.toDF()).collect()
      .map(r => key(r) -> r.getLong(3)).toMap
    assert(streamed == batch, "stream cells must equal the batch sketch")
    // overestimate-only: per (window, user), min over depth cells >= exact
    graft.functions.GraftFunctions.register(spark)
    val exact = data.toDF()
      .groupBy(window(col("ts"), "1 hour"), col("user_id")).count().collect()
      .map(r => (r.getStruct(0).getTimestamp(0).getTime * 1000L, r.getLong(1)) -> r.getLong(2))
    val md5 = java.security.MessageDigest.getInstance("MD5")
    def h(sArg: String): Long = java.lang.Long.parseLong(
      md5.digest(sArg.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(15), 16) % 256
    exact.foreach { case ((w, uid), n) =>
      val est = (0 until 4).map(r => streamed((w, r, h(s"cms$r:$uid")))).min
      assert(est >= n, s"CMS undercounted user $uid in window $w")
    }
  }

  test("streaming Bloom incremental dedup equals the oracle-checked d17 across micro-batches") {
    implicit val ctx = spark.sqlContext
    graft.functions.GraftFunctions.register(spark)
    // d17/d24's base-vs-incoming cut: md5-60 doc bucket < 80 is corpus
    val docs = Tables.documents(spark, sf0001)
      .selectExpr("doc_id", "text",
        "pmod(md5_long60(CAST(doc_id AS STRING)), 100) AS bucket")
    val base = docs.filter(col("bucket") < 80).select("doc_id", "text")
    val arrivals = docs.filter(col("bucket") >= 80).select("doc_id", "text")
      .as[StreamOps.Doc].orderBy("doc_id").collect().toSeq
    assert(arrivals.nonEmpty)
    // sketch built ONCE; the stream (and any restart of it) reuses it —
    // the corpus is never re-counted or re-sketched per call
    val sketch = StreamOps.buildCorpusSketch(base, version = 1L)
    val ms = MemoryStream[StreamOps.Doc]
    // three micro-batches: the corpus sketch must serve them all
    ms.addData(arrivals.take(30))
    val q = StreamOps.incrementalDedupStream(ms.toDF(), base, sketch)
      .writeStream.format("memory").queryName("inc_dedup_stream")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      ms.addData(arrivals.slice(30, 60))
      q.processAllAvailable()
      ms.addData(arrivals.drop(60))
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("inc_dedup_stream")
      .collect().map(_.getLong(0)).sorted.toSeq
    val batch = graft.ext.TextOps.incrementalDedup(spark, sf0001)
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(streamed == batch, s"stream ${streamed.size} vs batch ${batch.size}")

    // a SECOND stream (a restart) reuses the same sketch object and
    // reproduces the answer — the sketch-once contract across stream
    // lifetimes, not just micro-batches
    val ms2 = MemoryStream[StreamOps.Doc]
    ms2.addData(arrivals)
    val q2 = StreamOps.incrementalDedupStream(ms2.toDF(), base, sketch)
      .writeStream.format("memory").queryName("inc_dedup_stream2")
      .outputMode("append").start()
    try q2.processAllAvailable() finally q2.stop()
    val restreamed = spark.table("inc_dedup_stream2")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(restreamed == batch)
    assert(sketch.version == 1L)

    // convenience overload (self-built sketch) still serves
    val ms3 = MemoryStream[StreamOps.Doc]
    ms3.addData(arrivals.take(10))
    val q3 = StreamOps.incrementalDedupStream(ms3.toDF(), base)
      .writeStream.format("memory").queryName("inc_dedup_stream3")
      .outputMode("append").start()
    try q3.processAllAvailable() finally q3.stop()
    assert(spark.table("inc_dedup_stream3").count() ==
      batch.count(id => arrivals.take(10).exists(_.doc_id == id)))
  }

  test("foreachBatch incremental parquet sink lands every row exactly once across batches") {
    implicit val ctx = spark.sqlContext
    val out = java.nio.file.Files.createTempDirectory("graft-sink").toString + "/t"
    val data = sampleEvents(300)
    val ms = MemoryStream[Event]
    ms.addData(data.take(200))
    val q = StreamOps.incrementalParquetSink(ms.toDF(), out).start()
    try {
      q.processAllAvailable()
      ms.addData(data.drop(200)) // second micro-batch after the first committed
      q.processAllAvailable()
    } finally q.stop()
    val back = spark.read.parquet(out)
    assert(back.count() == data.size)
    assert(back.select("event_id").distinct().count() == data.size)
    // batch_id partition column recovered from the directory layout
    assert(back.columns.contains("batch_id"))
  }

  test("flatMapGroupsWithState latest-per-user matches batch dedup-keep-latest") {
    implicit val ctx = spark.sqlContext
    val data = sampleEvents(400)
    val ms = MemoryStream[Event]
    ms.addData(data)
    val q = StreamOps.latestPerUser(ms.toDS()).toDF()
      .writeStream.format("memory").queryName("latest_stream").outputMode("update").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("latest_stream")
      .groupBy("user_id").agg(max(struct(col("last_ts"), col("last_value"))).as("s"))
      .select(col("user_id"), col("s.last_ts"), col("s.last_value"))
      .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getDouble(2))).toSet
    val batch = StreamOps.latestPerUserBatch(data.toDF())
      .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getDouble(2))).toSet
    assert(streamed == batch)
  }

  test("CDC MERGE-apply sink materializes the snapshot table across micro-batches") {
    implicit val ctx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("cdc-table").toString + "/t"
    val data = sampleEvents(400)
    val ms = MemoryStream[Event]
    ms.addData(data.take(250))
    val q = StreamOps.cdcApplyParquetSink(StreamOps.cdcSnapshotStream(ms.toDS()), dir)
      .outputMode("update").start()
    try {
      q.processAllAvailable()
      // mid-stream: the table resolves and is readable (commit marker live)
      assert(StreamOps.readCdcTable(spark, dir).get.count() > 0)
      ms.addData(data.drop(250))
      q.processAllAvailable()
    } finally q.stop()
    val table = StreamOps.readCdcTable(spark, dir).get.collect()
      .map(r => r.getAs[Long]("user_id") ->
        (r.getAs[String]("last_type"), r.getAs[Double]("last_value"))).toMap
    // driver-side expectation: latest by (ts, event_id); error ⇒ absent
    val latest = data.groupBy(_.user_id).map { case (u, es) =>
      u -> es.maxBy(e => (e.ts.getTime, e.ts.getNanos, e.event_id))
    }
    latest.foreach { case (u, e) =>
      if (e.event_type == "error") assert(!table.contains(u), s"user $u not deleted")
      else assert(table(u) == ((e.event_type, e.value)), s"user $u wrong row")
    }
    assert(table.size == latest.count(_._2.event_type != "error"))
  }

  test("CDC sink commits survive retries and crash windows without losing merged keys") {
    val dir = java.nio.file.Files.createTempDirectory("cdc-retry").toString + "/t"
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def cdcBatch(rows: (Long, String, String, Double)*): org.apache.spark.sql.Dataset[StreamOps.CdcRow] =
      rows.map { case (u, op, tpe, v) =>
        StreamOps.CdcRow(u, op, tpe, v, new java.sql.Timestamp(1000L * u), 1L)
      }.toDS()
    def snapshot(): Map[Long, Double] =
      StreamOps.readCdcTable(spark, dir).get.collect()
        .map(r => r.getAs[Long]("user_id") -> r.getAs[Double]("last_value")).toMap

    StreamOps.applyCdcBatch(cdcBatch((1L, "U", "view", 1.0), (2L, "U", "view", 2.0)), dir, 0L)
    StreamOps.applyCdcBatch(cdcBatch((2L, "U", "click", 2.5), (3L, "U", "view", 3.0)), dir, 1L)
    val afterTwo = snapshot()
    assert(afterTwo == Map(1L -> 1.0, 2L -> 2.5, 3L -> 3.0))

    // retry AFTER a successful commit: same batchId re-applies as a no-op —
    // crucially it must NOT rebuild the table from this batch's rows alone
    StreamOps.applyCdcBatch(cdcBatch((2L, "U", "click", 2.5), (3L, "U", "view", 3.0)), dir, 1L)
    assert(snapshot() == afterTwo, "retry after commit must not change the table")

    // crash window: batch 2's data dir written but the marker flip never
    // happened — readers still resolve batch 1, and the retried batch 2
    // re-merges from batch 1's committed snapshot
    val orphan = new org.apache.hadoop.fs.Path(root, "v2/table")
    cdcBatch((1L, "D", "error", 0.0)).toDF()
      .write.mode("overwrite").parquet(orphan.toString)
    assert(snapshot() == afterTwo, "uncommitted version must be invisible")
    StreamOps.applyCdcBatch(cdcBatch((1L, "D", "error", 0.0), (4L, "U", "view", 4.0)), dir, 2L)
    assert(snapshot() == Map(2L -> 2.5, 3L -> 3.0, 4L -> 4.0))

    // retention: after 3 commits only the newest two versions remain
    val commits = fs.listStatus(root).map(_.getPath.getName).filter(_.startsWith("_commit-")).sorted
    assert(commits.toSeq == Seq("_commit-1", "_commit-2"))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(root, "v0")))

    // checkpoint reset: a NEW stream incarnation restarts batch ids at 0 —
    // those batches must APPLY (the sink versions by its own counter and
    // detects retries by batch-id EQUALITY with the latest marker; an
    // id-ordering guard would silently drop the whole new incarnation)
    StreamOps.applyCdcBatch(cdcBatch((5L, "U", "view", 5.0)), dir, 0L)
    assert(snapshot() == Map(2L -> 2.5, 3L -> 3.0, 4L -> 4.0, 5L -> 5.0),
      "post-reset batch must merge, not no-op")
    val commits2 = fs.listStatus(root).map(_.getPath.getName).filter(_.startsWith("_commit-")).sorted
    assert(commits2.toSeq == Seq("_commit-2", "_commit-3"))

    // batch-id COLLISION across incarnations: the previous incarnation's
    // latest committed batch id is 0 (the default-stamp apply above) and
    // the new incarnation's first batch is also 0 — a bare id-equality
    // check would misread it as a retry and silently drop it; the
    // incarnation half of the marker stamp disambiguates
    StreamOps.applyCdcBatch(cdcBatch((6L, "U", "view", 6.0)), dir, 0L,
      incarnationId = "inc-b")
    assert(snapshot().get(6L).contains(6.0),
      "same batch id from a NEW incarnation must apply, not no-op")
    // ...while a true same-incarnation retry of that batch still no-ops
    // (the mutated value is a tracer: if the merge re-ran it would show)
    StreamOps.applyCdcBatch(cdcBatch((6L, "U", "view", 99.0)), dir, 0L,
      incarnationId = "inc-b")
    assert(snapshot().get(6L).contains(6.0),
      "same (batch id, incarnation) must be detected as a retry")
  }

  test("CDC sink retention window is configurable for slow readers") {
    val dir = java.nio.file.Files.createTempDirectory("cdc-retain").toString + "/t"
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def cdcBatch(u: Long, v: Double): org.apache.spark.sql.Dataset[StreamOps.CdcRow] =
      Seq(StreamOps.CdcRow(u, "U", "view", v, new java.sql.Timestamp(1000L * u), 1L)).toDS()
    (0 until 4).foreach { i =>
      StreamOps.applyCdcBatch(cdcBatch(i.toLong, i.toDouble), dir, i.toLong, retain = 3)
    }
    val commits = fs.listStatus(root).map(_.getPath.getName)
      .filter(_.startsWith("_commit-")).sorted
    assert(commits.toSeq == Seq("_commit-1", "_commit-2", "_commit-3"),
      "retain=3 must keep the newest three committed versions")
    (1 to 3).foreach { n =>
      assert(fs.exists(new org.apache.hadoop.fs.Path(root, s"v$n")), s"v$n data must survive")
    }
    assert(!fs.exists(new org.apache.hadoop.fs.Path(root, "v0")))
    intercept[IllegalArgumentException] {
      StreamOps.applyCdcBatch(cdcBatch(9L, 9.0), dir, 9L, retain = 0)
    }
  }

  test("reading the CDC table declares its schema and launches no Spark job") {
    val dir = java.nio.file.Files.createTempDirectory("cdc-schema").toString + "/t"
    StreamOps.applyCdcBatch(Seq(StreamOps.CdcRow(1L, "U", "view", 1.0,
      new java.sql.Timestamp(1000L), 1L)).toDS(), dir, 0L)
    val (table, jobs) = jobsDuring(StreamOps.readCdcTable(spark, dir))
    assert(jobs == 0, s"a CDC read must not infer its schema: $jobs jobs")
    assert(table.get.columns.toSeq ==
      Seq("user_id", "last_type", "last_value", "last_ts", "n_events"))
  }

  test("streaming CDC snapshot converges to the batch t36 semantics across micro-batches") {
    implicit val ctx = spark.sqlContext
    val data = sampleEvents(400)
    val ms = MemoryStream[Event]
    // two micro-batches split mid-stream: state must merge across them
    ms.addData(data.take(250))
    val q = StreamOps.cdcSnapshotStream(ms.toDS()).toDF()
      .writeStream.format("memory").queryName("cdc_stream").outputMode("update").start()
    try {
      q.processAllAvailable()
      ms.addData(data.drop(250))
      q.processAllAvailable()
    } finally q.stop()
    // final row per user = the one with max n_events (monotone per key)
    val fin = spark.table("cdc_stream")
      .groupBy("user_id")
      .agg(max(struct(col("n_events"), col("op"), col("last_type"),
        col("last_value"), col("last_ts"))).as("s"))
      .select(col("user_id"), col("s.op"), col("s.last_type"),
        col("s.last_value"), col("s.n_events"))
      .collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getString(2), r.getDouble(3),
        r.getLong(4))).toMap
    // driver-side expectation: latest by (ts, event_id), error ⇒ tombstone
    val expect = data.groupBy(_.user_id).map { case (u, es) =>
      val latest = es.maxBy(e => (e.ts.getTime, e.ts.getNanos, e.event_id))
      u -> (if (latest.event_type == "error") "D" else "U",
        latest.event_type, latest.value, es.size.toLong)
    }
    assert(fin == expect)
    // tombstoned users are exactly the batch-t36 absentees
    val dUsers = fin.filter(_._2._1 == "D").keySet
    assert(dUsers == expect.filter(_._2._1 == "D").keySet)
    dUsers.foreach(u => assert(expect(u)._2 == "error"))
  }

  test("stream-static CDC enrichment re-resolves the dimension version per micro-batch") {
    implicit val ctx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("cdc-enrich").toString + "/t"
    def cdcBatch(rows: (Long, String, Double)*): org.apache.spark.sql.Dataset[StreamOps.CdcRow] =
      rows.map { case (u, tpe, v) =>
        StreamOps.CdcRow(u, "U", tpe, v, new java.sql.Timestamp(1000L * u), 1L)
      }.toDS()
    // v0: user 1 -> "bronze"
    StreamOps.applyCdcBatch(cdcBatch((1L, "bronze", 1.0)), dir, 0L)

    val seen = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Long, Option[String])] // (batchId, user, dim type)
    val ms = MemoryStream[Event]
    def ev(id: Long, u: Long): Event =
      Event(id, new java.sql.Timestamp(3600L * 1000 * id), u, "view", 1.0)
    val q = StreamOps.enrichAgainstCdcTable(ms.toDF(), dir, "user_id") {
      (batch, batchId) =>
        batch.select("user_id", "last_type").collect().foreach(r =>
          seen += ((batchId, r.getLong(0), Option(r.getString(1)))))
        ()
    }.option("checkpointLocation",
      java.nio.file.Files.createTempDirectory("cdc-enrich-ckpt").toString)
      .start()
    try {
      ms.addData(ev(1, 1L), ev(2, 9L)) // user 9 has no dimension row
      q.processAllAvailable()
      // dimension update lands BETWEEN batches: user 1 -> "gold", user 2 appears
      StreamOps.applyCdcBatch(cdcBatch((1L, "gold", 2.0), (2L, "silver", 1.0)), dir, 1L)
      ms.addData(ev(3, 1L), ev(4, 2L))
      q.processAllAvailable()
    } finally q.stop()
    val byBatch = seen.groupBy(_._1).view
      .mapValues(_.map(e => e._2 -> e._3).toMap).toMap
    // batch 0 joined the version live at ITS start: bronze, and the
    // dimensionless user survives the LEFT join with a null
    assert(byBatch(0L) == Map(1L -> Some("bronze"), 9L -> None), s"batch 0: $byBatch")
    // batch 1 sees the upsert committed between batches — the stale-plan
    // formulation (join the path resolved at planning) would still say bronze
    assert(byBatch(1L) == Map(1L -> Some("gold"), 2L -> Some("silver")),
      s"batch 1: $byBatch")
  }

  test("CDC enrichment fails fast when no dimension version is committed") {
    // Before the fix the first batch passed through with the NARROW
    // stream-only schema, then widened once a commit landed — a
    // schema-strict sink died at an unpredictable mid-stream batch.
    // The contract is now explicit: no committed version ⇒ the stream
    // fails at batch 0 with guidance, never emitting unstable schemas.
    implicit val ctx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("cdc-enrich-empty").toString + "/t"
    val ms = MemoryStream[Event]
    val q = StreamOps.enrichAgainstCdcTable(ms.toDF(), dir, "user_id") {
      (_, _) => ()
    }.option("checkpointLocation",
      java.nio.file.Files.createTempDirectory("cdc-enrich-empty-ckpt").toString)
      .start()
    try {
      ms.addData(Event(1L, new java.sql.Timestamp(1000L), 1L, "view", 1.0))
      val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q.processAllAvailable()
      }
      def chain(t: Throwable): List[Throwable] =
        if (t == null) Nil else t :: chain(t.getCause)
      assert(chain(ex).exists(c => c.isInstanceOf[IllegalStateException] &&
        c.getMessage.contains("no committed CDC version")), ex.getMessage)
    } finally q.stop()
  }

  test("streaming CUSUM emits bit-identical rows to batch t48 under the batch's own target") {
    implicit val ctx = spark.sqlContext
    // batch twin over the full sf0.001 events table; its per-type mu is
    // the in-control target the stream monitors against
    val batch = graft.operators.Temporal.cusumDrift(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5), r.getBoolean(6), r.getBoolean(7)))
    val mu = batch.map(r => r._1 -> r._4).toMap
    val data = Tables.events(spark, sf0001)
      .select("event_id", "ts", "user_id", "event_type", "value")
      .as[Event].collect().toSeq
    // sentinel per type, exactly 1h past its max hour: closes the final
    // bucket with NO silent hours in between (the dense stream emits
    // zero rows for skipped hours, and the batch twin's spine ends at
    // the max observed hour — a +2h sentinel would emit one zero hour
    // past the batch's span); the sentinel's own bucket stays open and
    // must emit nothing
    val sentinels = batch.groupBy(_._1).map { case (et, rows) =>
      Event(-1L, new java.sql.Timestamp(
        (rows.map(_._2).max + 3600000000L) / 1000L), -1L, et, 0.0)
    }.toSeq
    val ms = MemoryStream[Event]
    ms.addData(data) // one batch: rows are sorted inside the group fold
    val q = StreamOps.cusumStream(ms.toDS(), mu).writeStream
      .format("memory").queryName("cusum_stream").outputMode("append").start()
    try {
      q.processAllAvailable()
      ms.addData(sentinels) // later batch keeps cross-batch time order
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("cusum_stream")
      .orderBy("event_type", "h_us").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getDouble(4), r.getBoolean(5), r.getBoolean(6)))
    val expect = batch.sortBy(r => (r._1, r._2))
      .map(r => (r._1, r._2, r._3, r._5, r._6, r._7, r._8))
    assert(streamed.nonEmpty)
    assert(streamed.toSeq == expect.toSeq,
      s"stream/batch drift: ${streamed.toSeq.diff(expect.toSeq).take(3)} vs ${expect.toSeq.diff(streamed.toSeq).take(3)}")
  }

  test("streaming drift episodes: closed episodes are bit-identical to batch t56") {
    implicit val ctx = spark.sqlContext
    val t48 = graft.operators.Temporal.cusumDrift(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(3)))
    val mu = t48.map(r => r._1 -> r._3).toMap
    val lastHour = t48.groupBy(_._1).map { case (et, rs) =>
      et -> rs.map(_._2).max }
    val batch = graft.operators.Temporal.driftEpisodes(spark, sf0001)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4)))
    // the stream can only emit an episode CLOSED by a later under-band
    // hour; an episode still running at the series' final hour stays
    // open in state (the open-hour caveat, one level up)
    val expect = batch.filter(e => e._3 != lastHour(e._1)).sortBy(e => (e._1, e._2))
    assert(expect.nonEmpty, "fixture must contain closed episodes")
    val data = Tables.events(spark, sf0001)
      .select("event_id", "ts", "user_id", "event_type", "value")
      .as[Event].collect().toSeq
    val sentinels = lastHour.map { case (et, h) =>
      Event(-1L, new java.sql.Timestamp((h + 3600000000L) / 1000L), -1L, et, 0.0)
    }.toSeq
    val ms = MemoryStream[Event]
    ms.addData(data)
    val q = StreamOps.driftEpisodesStream(ms.toDS(), mu).writeStream
      .format("memory").queryName("drift_episodes").outputMode("append").start()
    try {
      q.processAllAvailable()
      ms.addData(sentinels)
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("drift_episodes")
      .orderBy("event_type", "start_us").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4)))
    assert(streamed.toSeq == expect.toSeq,
      s"episode drift: ${streamed.toSeq.diff(expect.toSeq).take(3)} vs ${expect.toSeq.diff(streamed.toSeq).take(3)}")
  }

  test("trending monitor: final snapshot is batch-boundary-independent and matches a driver walk") {
    implicit val ctx = spark.sqlContext
    val data = Tables.events(spark, sf0001)
      .select("event_id", "ts", "user_id", "event_type", "value")
      .as[Event].collect().toSeq
      .sortBy(e => (e.ts.getTime, e.ts.getNanos, e.event_id))
    def run(name: String, chunks: Seq[Seq[Event]]): Map[(String, Int), (Long, Double)] = {
      val ms = MemoryStream[Event]
      val q = StreamOps.trendingUsersStream(ms.toDS(), halfLifeHours = 6.0,
          k = 3, capacity = 512) // capacity > |users|: no eviction, exact
        .writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      try {
        chunks.foreach { c => ms.addData(c); q.processAllAvailable() }
      } finally q.stop()
      // final snapshot per type = the rows stamped with the type's max asof
      val rows = spark.table(name).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getInt(2), r.getLong(3),
          r.getDouble(4)))
      rows.groupBy(_._1).toSeq.flatMap { case (et, rs) =>
        val last = rs.map(_._2).max
        rs.filter(_._2 == last).toSeq.map(r => (et, r._3) -> ((r._4, r._5)))
      }.toMap
    }
    val whole = run("trend_whole", Seq(data))
    val perType = data.groupBy(_.event_type)
    // chunked arbitrarily in event-time order (per-type order preserved)
    val chunked = run("trend_chunks", data.grouped(500).toSeq)
    assert(whole.nonEmpty)
    assert(whole == chunked, "snapshot must not depend on batch boundaries")
    // driver recompute of the identical sequential walk, per type
    val hlUs = 6.0 * 3600000000.0
    perType.foreach { case (et, evs) =>
      val w = scala.collection.mutable.Map.empty[Long, Double]
      var last = Long.MinValue
      evs.foreach { e =>
        val us = e.ts.getTime * 1000L + (e.ts.getNanos % 1000000) / 1000L
        if (last != Long.MinValue && us > last) {
          val f = math.pow(2.0, -(us - last) / hlUs)
          w.keys.toSeq.foreach(u => w(u) = w(u) * f)
        }
        last = math.max(last, us)
        w(e.user_id) = w.getOrElse(e.user_id, 0.0) + 1.0
      }
      val top = w.toSeq.sortBy { case (u, x) => (-x, u) }.take(3)
      top.zipWithIndex.foreach { case ((u, x), i) =>
        val got = whole((et, i + 1))
        assert(got._1 == u && got._2 == x,
          s"$et rank ${i + 1}: $got vs ($u, $x)")
      }
    }
    // decayed weight of any user is bounded by the geometric-series cap
    // only when gaps are uniform; the universal bound is the raw count
    whole.values.foreach { case (_, x) => assert(x > 0.0) }
  }

  test("bm25 indexAppendSink: streamed two-batch append == from-scratch build over the union") {
    import graft.ext.RetrievalIndex
    import spark.implicits._
    def mkText(stem: String, n: Int) = (1 to n).map(i => s"$stem$i").mkString(" ")
    val all = (1L to 24L).map(i => (i, mkText(s"w${i}t", 12 + (i % 5).toInt)))
    val rootS = java.nio.file.Files
      .createTempDirectory("graft-bm25-stream").toString
    val rootB = java.nio.file.Files
      .createTempDirectory("graft-bm25-streambatch").toString
    RetrievalIndex.buildIndexFrom(all.take(8).toDF("doc_id", "text"), rootS)
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[(Long, String)]
    val q = RetrievalIndex.indexAppendSink(
      ms.toDF().toDF("doc_id", "text"), rootS).start()
    try {
      ms.addData(all.slice(8, 16))
      q.processAllAvailable()
      assert(RetrievalIndex.latestVersion(spark, rootS).contains(1L))
      assert(new java.io.File(rootS, "v1/postings-delta").exists(),
        "each micro-batch must commit an O(batch) delta")
      ms.addData(all.drop(16))
      q.processAllAvailable()
      assert(RetrievalIndex.latestVersion(spark, rootS).contains(2L))
    } finally q.stop()
    // BM25 carries no trained state, so the convergence target is the
    // from-scratch build over the union: postings, df vocabulary,
    // corpus stats and the SERVED ranking must all be identical
    RetrievalIndex.buildIndexFrom(all.toDF("doc_id", "text"), rootB)
    def postings(root: String) = RetrievalIndex.loadPostings(spark, root)
      .select("token", "doc_id", "tf", "dl").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(t => (t._1, t._2)).toSeq
    assert(postings(rootS) == postings(rootB))
    def vocab(root: String) = RetrievalIndex.loadVocab(spark, root)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(vocab(rootS) == vocab(rootB))
    assert(RetrievalIndex.loadStats(spark, rootS).head().toSeq ==
      RetrievalIndex.loadStats(spark, rootB).head().toSeq)
    assert(RetrievalIndex.serveBm25TopK(spark, rootS).collect().map(_.toSeq).toSeq ==
      RetrievalIndex.serveBm25TopK(spark, rootB).collect().map(_.toSeq).toSeq)
  }

  test("bm25 indexForgetSink: streamed two-batch forget == from-scratch build over the survivors") {
    import graft.ext.RetrievalIndex
    import spark.implicits._
    def mkText(stem: String, n: Int) = (1 to n).map(i => s"$stem$i").mkString(" ")
    val all = (1L to 24L).map(i => (i, mkText(s"g${i}t", 10 + (i % 4).toInt)))
    val rootS = java.nio.file.Files
      .createTempDirectory("graft-bm25-fstream").toString
    val rootB = java.nio.file.Files
      .createTempDirectory("graft-bm25-fbatch").toString
    RetrievalIndex.buildIndexFrom(all.toDF("doc_id", "text"), rootS)
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[(Long, String)]
    // forget requests carry (doc_id, text) from the primary store —
    // the O(forgotten) −df/−stats derivation re-tokenizes the batch
    val q = RetrievalIndex.indexForgetSink(
      ms.toDF().toDF("doc_id", "text"), rootS).start()
    val gone1 = all.filter(_._1 % 5 == 0)
    val gone2 = all.filter(_._1 % 7 == 3)
    try {
      ms.addData(gone1)
      q.processAllAvailable()
      assert(RetrievalIndex.latestVersion(spark, rootS).contains(1L))
      assert(new java.io.File(rootS, "v1/tombstones").exists() &&
        !new java.io.File(rootS, "v1/postings").exists(),
        "a forget on a clean base must commit metadata-only")
      ms.addData(gone2)
      q.processAllAvailable()
      assert(RetrievalIndex.latestVersion(spark, rootS).contains(2L))
    } finally q.stop()
    // convergence target: the from-scratch build over the survivors —
    // postings, df vocabulary, corpus stats and the served ranking
    val goneIds = (gone1 ++ gone2).map(_._1).toSet
    RetrievalIndex.buildIndexFrom(
      all.filterNot(t => goneIds(t._1)).toDF("doc_id", "text"), rootB)
    def postings(root: String) = RetrievalIndex.loadPostings(spark, root)
      .select("token", "doc_id", "tf", "dl").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(t => (t._1, t._2)).toSeq
    assert(postings(rootS) == postings(rootB))
    def vocab(root: String) = RetrievalIndex.loadVocab(spark, root)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(vocab(rootS) == vocab(rootB))
    assert(RetrievalIndex.loadStats(spark, rootS).head().toSeq ==
      RetrievalIndex.loadStats(spark, rootB).head().toSeq)
    assert(RetrievalIndex.serveBm25TopK(spark, rootS).collect().map(_.toSeq).toSeq ==
      RetrievalIndex.serveBm25TopK(spark, rootB).collect().map(_.toSeq).toSeq)
  }

  test("bm25 indexAdmitSink: OVERLAPPING micro-batches converge to the distinct-doc build") {
    import graft.ext.RetrievalIndex
    import spark.implicits._
    def mkText(stem: String, n: Int) = (1 to n).map(i => s"$stem$i").mkString(" ")
    val all = (1L to 20L).map(i => (i, mkText(s"h${i}t", 9 + (i % 3).toInt)))
    val rootS = java.nio.file.Files
      .createTempDirectory("graft-bm25-astream").toString
    val rootB = java.nio.file.Files
      .createTempDirectory("graft-bm25-abatch").toString
    RetrievalIndex.buildIndexFrom(all.take(8).toDF("doc_id", "text"), rootS)
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[(Long, String)]
    val q = RetrievalIndex.indexAdmitSink(
      ms.toDF().toDF("doc_id", "text"), rootS).start()
    try {
      // batch 1 OVERLAPS the base (docs 5-8 redelivered) + novel 9-14
      ms.addData(all.slice(4, 14))
      q.processAllAvailable()
      // batch 2 overlaps batch 1 (docs 12-14 again) + novel 15-20
      ms.addData(all.slice(11, 20))
      q.processAllAvailable()
    } finally q.stop()
    // convergence target: the from-scratch build over the DISTINCT docs
    RetrievalIndex.buildIndexFrom(all.toDF("doc_id", "text"), rootB)
    def postings(root: String) = RetrievalIndex.loadPostings(spark, root)
      .select("token", "doc_id", "tf", "dl").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(t => (t._1, t._2)).toSeq
    assert(postings(rootS) == postings(rootB))
    def vocab(root: String) = RetrievalIndex.loadVocab(spark, root)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(vocab(rootS) == vocab(rootB))
    assert(RetrievalIndex.loadStats(spark, rootS).head().toSeq ==
      RetrievalIndex.loadStats(spark, rootB).head().toSeq)
    assert(RetrievalIndex.serveBm25TopK(spark, rootS).collect().map(_.toSeq).toSeq ==
      RetrievalIndex.serveBm25TopK(spark, rootB).collect().map(_.toSeq).toSeq)
  }

  test("indexAppendSink: streamed two-batch append == batch-built index over the union") {
    import graft.ext.{VectorIndex, VectorOps}
    val e = VectorOps.vecs(spark, "/root/testdata/sf0.001")
      .select("vec_id", "v")
    val n = e.count()
    val cut = n / 2
    assert(cut > 16)
    val rows = e.collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1))).sortBy(_._1).toSeq
    val rootS = java.nio.file.Files
      .createTempDirectory("graft-index-stream").toString
    val rootB = java.nio.file.Files
      .createTempDirectory("graft-index-streambatch").toString
    // seed: the committed codebook the stream appends against
    VectorIndex.buildIndexFrom(e.filter(col("vec_id") < 16), rootS)
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[(Long, Seq[Double])]
    val sink = VectorIndex.indexAppendSink(
      ms.toDF().toDF("vec_id", "v"), rootS)
    val q = sink.start()
    try {
      // two micro-batches; the sink re-resolves the committed version
      // at each and commits v1 then v2 through the marker flip
      ms.addData(rows.filter(r => r._1 >= 16 && r._1 < cut))
      q.processAllAvailable()
      assert(VectorIndex.latestVersion(spark, rootS).contains(1L))
      ms.addData(rows.filter(_._1 >= cut))
      q.processAllAvailable()
      assert(VectorIndex.latestVersion(spark, rootS).contains(2L))
    } finally q.stop()
    // the batch witness ENCODES the union against rootS's committed
    // (seed-trained) quantizers — the fixed-quantizer contract: appends
    // never retrain, so the convergence target is encode-with-the-
    // committed-codebooks, not a from-scratch rebuild (which would
    // train on the full corpus and hold different centroids)
    VectorIndex.commitEncodedWith(e, rootS, rootB)
    def snap(root: String) = VectorIndex.loadCodes(spark, root)
      .selectExpr("vec_id", "cell", "codes").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Long](2).toList))
      .sortBy(_._1).toSeq
    assert(snap(rootS) == snap(rootB),
      "streamed appends must converge to the batch-encoded index")
  }

  test("graphInsertSink: streamed inserts maintain the committed graph; later batches can reach earlier inserts") {
    import graft.ext.{VectorIndex, VectorOps}
    val rnd = new scala.util.Random(11)
    def vec() = Seq.fill(64)(rnd.nextDouble() * 2 - 1)
    val baseVs = (0L until 16L).map(i => (i, vec()))
    val v100 = vec()
    val base = baseVs.toDF("vec_id", "v")
    // primary = every vector the graph may index (walk scoring store)
    val primary = (baseVs ++ Seq((100L, v100), (200L, v100.map(_ * 1.01))))
      .toDF("vec_id", "v")
    val root = java.nio.file.Files
      .createTempDirectory("graft-graph-ins-stream").toString
    VectorOps.knnGraphFrom(base)
      .select(col("vec_id").as("src"), col("neighbor_id").as("dst"))
      .write.parquet(s"$root/v0/edges")
    graft.ext.SegmentChain.flipCommitMarker(spark, root, 0L, (-3L, "seed"))
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[(Long, Seq[Double])]
    val q = VectorIndex.graphInsertSink(
      ms.toDF().toDF("vec_id", "v"), primary, root).start()
    try {
      ms.addData(Seq((100L, v100)))
      q.processAllAvailable()
      assert(VectorIndex.latestVersion(spark, root).contains(1L))
      ms.addData(Seq((200L, v100.map(_ * 1.01))))
      q.processAllAvailable()
      assert(VectorIndex.latestVersion(spark, root).contains(2L))
    } finally q.stop()
    val live = VectorIndex.loadGraph(spark, root)
    // degree bound holds through streamed maintenance
    assert(live.groupBy("src").count().agg(max("count")).head().getLong(0) <= 3L)
    // the batch-2 insert reached the batch-1 insert THROUGH the live
    // graph (cosine 1.0 — it must out-rank every base neighbor it saw)
    val e200 = live.filter(col("src") === 200L).collect().map(_.getLong(1)).toSet
    assert(e200.contains(100L),
      s"batch-2 walk must reach the batch-1 insert via its back-edges: $e200")
  }

  test("graphDeleteSink: streamed deletes repair the committed graph per batch") {
    import graft.ext.{VectorIndex, VectorOps}
    val rnd = new scala.util.Random(17)
    def jitter(base: Seq[Double]) = base.map(_ + (rnd.nextDouble() - 0.5) * 0.01)
    // two tight clusters: dense in-bucket adjacency so deletes leave a
    // non-trivial graph to repair
    val cA = Seq.fill(64)(1.0); val cB = Seq.fill(32)(1.0) ++ Seq.fill(32)(-1.0)
    val vs = (0L to 5L).map(i => (i, jitter(cA))) ++
      (10L to 15L).map(i => (i, jitter(cB)))
    val primary = vs.toDF("vec_id", "v")
    val root = java.nio.file.Files
      .createTempDirectory("graft-graph-del-stream").toString
    VectorOps.knnGraphFrom(primary)
      .select(col("vec_id").as("src"), col("neighbor_id").as("dst"))
      .write.parquet(s"$root/v0/edges")
    graft.ext.SegmentChain.flipCommitMarker(spark, root, 0L, (-3L, "seed"))
    val victims = VectorIndex.loadGraph(spark, root)
      .select("dst").distinct().limit(2).collect().map(_.getLong(0))
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[Long]
    val q = VectorIndex.graphDeleteSink(
      ms.toDF().toDF("vec_id"), primary, root).start()
    try {
      ms.addData(Seq(victims(0)))
      q.processAllAvailable()
      assert(VectorIndex.latestVersion(spark, root).contains(1L))
      // an empty micro-batch must not commit
      ms.addData(Seq.empty[Long])
      q.processAllAvailable()
      assert(VectorIndex.latestVersion(spark, root).contains(1L))
      ms.addData(Seq(victims(1)))
      q.processAllAvailable()
      assert(VectorIndex.latestVersion(spark, root).contains(2L))
    } finally q.stop()
    val live = VectorIndex.loadGraph(spark, root)
    assert(live.filter(col("src").isin(victims: _*) ||
      col("dst").isin(victims: _*)).count() == 0,
      "streamed deletes must leave no dangling edges")
    assert(live.groupBy("src").count().agg(max("count"))
      .head().getLong(0) <= 3L)
  }

  test("vectorAdmissionSink: streamed vector admission maintains the ANN index per batch") {
    import graft.ext.VectorIndex
    val rnd = new scala.util.Random(7)
    def vec() = Seq.fill(64)(rnd.nextDouble() * 2 - 1)
    val baseVs = (0L until 16L).map(i => (i, vec()))
    val v100 = vec()
    val primary = (baseVs ++ Seq((100L, v100), (200L, v100.map(_ * 1.01))))
      .toDF("vec_id", "v")
    val root = java.nio.file.Files
      .createTempDirectory("graft-ann-admit-stream").toString
    VectorIndex.buildIndexFrom(baseVs.toDF("vec_id", "v"), root)
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[(Long, Seq[Double])]
    val q = VectorIndex.vectorAdmissionSink(
      ms.toDF().toDF("vec_id", "v"), primary, root).start()
    try {
      ms.addData(Seq((100L, v100))) // novel — admitted, coded as v1
      q.processAllAvailable()
      assert(VectorIndex.latestVersion(spark, root).contains(1L))
      // scaled copy of the batch-1 admit — rejected by the probe; an
      // all-dup batch admits nothing, so NO commit happens (no version
      // churn for no-op input)
      ms.addData(Seq((200L, v100.map(_ * 1.01))))
      q.processAllAvailable()
      assert(VectorIndex.latestVersion(spark, root).contains(1L))
    } finally q.stop()
    val indexed = VectorIndex.loadCodes(spark, root)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(indexed == (0L until 16L).toSet + 100L,
      s"the rejected near-dup must not enter the index: $indexed")
  }

  test("admissionSink: streamed near-dup admission maintains the signature index per batch") {
    import graft.ext.TextIndex
    def mkText(stem: String) = (1 to 30).map(i => s"$stem$i").mkString(" ")
    val (tA, tC) = (mkText("alpha"), mkText("gamma"))
    def nd(t: String) = t.split(' ').dropRight(1).mkString(" ") + " x"
    val base = Seq((1L, tA)).toDF("doc_id", "text")
    val primary = Seq((1L, tA), (10L, tC), (20L, nd(tC)))
      .toDF("doc_id", "text")
    val root = java.nio.file.Files
      .createTempDirectory("graft-text-index-stream").toString
    TextIndex.buildIndexFrom(base, root)
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[(Long, String)]
    val q = TextIndex.admissionSink(
      ms.toDF().toDF("doc_id", "text"), primary, root).start()
    try {
      ms.addData(Seq((10L, tC))) // novel — admitted, indexed as v1
      q.processAllAvailable()
      assert(TextIndex.latestVersion(spark, root).contains(1L))
      // dups the batch-1 admit — rejected; an all-dup batch admits
      // nothing, so NO commit happens (no version churn for no-op input)
      ms.addData(Seq((20L, nd(tC))))
      q.processAllAvailable()
      assert(TextIndex.latestVersion(spark, root).contains(1L))
    } finally q.stop()
    val indexed = TextIndex.loadPostings(spark, root)
      .select("doc_id").distinct().collect().map(_.getLong(0)).toSet
    assert(indexed == Set(1L, 10L),
      s"the rejected near-dup must not enter the index: $indexed")
  }
}
