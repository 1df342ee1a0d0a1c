package graft.streaming

import graft.SparkSpecBase
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import java.sql.Timestamp

class StreamsSpec extends SparkSpecBase {

  private def ts(min: Int): Timestamp = new Timestamp(3600_000L * 24 + min * 60_000L)

  type Ev = (Timestamp, Long, String, Double)

  private def runToMemory(name: String, df: org.apache.spark.sql.DataFrame,
      mode: OutputMode): Unit = {
    val q = df.writeStream.format("memory").queryName(name).outputMode(mode).start()
    try q.processAllAvailable() finally q.stop()
  }

  test("session_window merges events within the gap, splits beyond it") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Ev]
    val events = in.toDF().toDF("ts", "user_id", "event_type", "value")
    val q = Streams.sessions(events).writeStream.format("memory")
      .queryName("sessions_out").outputMode(OutputMode.Append()).start()
    try {
      // user 1: events at t0, t0+10min (same session), t0+50min (new session)
      in.addData((ts(0), 1L, "click", 1.0), (ts(10), 1L, "click", 1.0), (ts(50), 1L, "view", 1.0))
      q.processAllAvailable()
      // advance the watermark past both sessions (append emits on close)
      in.addData((ts(600), 2L, "click", 1.0))
      q.processAllAvailable()
      in.addData((ts(1200), 2L, "click", 1.0))
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("sessions_out")
      .filter(col("user_id") === 1L).orderBy("s_start").collect()
    assert(rows.length == 2, spark.table("sessions_out").collect().mkString(","))
    assert(rows(0).getAs[Long]("n_events") == 2) // t0 + t0+10 merged
    assert(rows(1).getAs[Long]("n_events") == 1)
  }

  test("tumbling windows aggregate by event-time hour") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Ev]
    val events = in.toDF().toDF("ts", "user_id", "event_type", "value")
    in.addData((ts(0), 1L, "click", 2.0), (ts(30), 2L, "click", 3.0), (ts(70), 1L, "view", 4.0))
    runToMemory("tumbling_out", Streams.tumblingCounts(events), OutputMode.Update())
    val rows = spark.table("tumbling_out").orderBy("w_start", "event_type").collect()
    assert(rows.map(_.getAs[Long]("n")).toSeq == Seq(2L, 1L))
    assert(rows.head.getAs[Double]("sum_value") == 5.0)
  }

  test("sliding windows: an event lands in every overlapping 1h/30m window") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Ev]
    val events = in.toDF().toDF("ts", "user_id", "event_type", "value")
    // one event at t0+40min: covered by the windows starting t0-30+10 and t0+30
    in.addData((ts(40), 1L, "click", 1.0))
    runToMemory("sliding_out", Streams.slidingCounts(events), OutputMode.Update())
    val rows = spark.table("sliding_out").orderBy("w_start").collect()
    assert(rows.length == 2, rows.mkString(","))
    assert(rows.forall(_.getAs[Long]("n") == 1L))
    // consecutive window starts 30 minutes apart
    val starts = rows.map(_.getAs[Timestamp]("w_start").getTime)
    assert(starts(1) - starts(0) == 30L * 60_000L)
  }

  test("streaming rate anomaly: watermarked windows carry the batch verdict under frozen stats") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Ev]
    val events = in.toDF().toDF("ts", "user_id", "event_type", "value")
    // baseline fit on "history": 3 hourly windows of count 2 each for
    // clicks → mean 2, variance 0; any deviating window flags, a
    // baseline-conforming one does not
    val stats = Seq(("click", 3L, 6L, 12L)).toDF("event_type", "hh", "ss", "ss2")
    // stream three windows with counts 2, 14, 2
    val evs = (0 until 2).map(i => (ts(i), 1L, "click", 1.0)) ++
      (0 until 14).map(i => (ts(60 + i), 1L, "click", 1.0)) ++
      (0 until 2).map(i => (ts(120 + i), 1L, "click", 1.0))
    in.addData(evs: _*)
    runToMemory("anomaly_out", Streams.rateAnomaly(events, stats), OutputMode.Update())
    val rows = spark.table("anomaly_out").orderBy("w_start").collect()
      .map(r => (r.getAs[Long]("n"), r.getAs[Double]("mu"), r.getAs[Boolean]("anomaly")))
    assert(rows.map(_._1).toSeq == Seq(2L, 14L, 2L))
    assert(rows.forall(_._2 == 2.0))
    // driver recompute of the exact verdict per window
    rows.foreach { case (n, _, anomaly) =>
      val dev = BigInt(n * 3 - 6)
      val want = dev * dev > BigInt(4) * (BigInt(3) * BigInt(12) - BigInt(6) * BigInt(6))
      assert(anomaly == want, s"window n=$n")
    }
    assert(rows.map(_._3).toSeq == Seq(false, true, false), "only the spike flags")
  }

  test("watermarked conversion labels: a view delivered after a later purchase still converts") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val H = 3600000000L // 1h in µs
    // user 1: view v1 @2h and purchase p1 @2h10 arrive in batch 1;
    // view v2 @2h05 (BEFORE the purchase in event time) arrives in
    // batch 2 — within the 1h allowed lateness. Batch semantics: both
    // views convert via p1, so resolution must wait for the watermark
    // rather than consume p1 when it arrives.
    val b1 = Seq((10L, 1L, 2L * H, "view"), (11L, 1L, 2L * H + 600000000L, "purchase"))
    val b2 = Seq((12L, 1L, 2L * H + 300000000L, "view"))
    val flush = Seq((99L, 1L, 10L * H, "click"))
    val in = MemoryStream[(Long, Long, Long, String)]
    val q = Streams.conversionLabelsWatermarked(in.toDS()).writeStream.format("memory")
      .queryName("conv_wm").outputMode(OutputMode.Append()).start()
    try {
      in.addData(b1: _*); q.processAllAvailable()
      in.addData(b2: _*); q.processAllAvailable()
      in.addData(flush: _*); q.processAllAvailable()
    } finally q.stop()
    val buffered = spark.table("conv_wm").collect().map(r => r.getLong(0) ->
      (Option(r.getAs[Any]("purchase_id")).map(_.asInstanceOf[Long]),
        r.getAs[Boolean]("converted"))).toMap
    assert(buffered(10L) == (Some(11L), true))
    assert(buffered(12L) == (Some(11L), true), "watermark buffer restores event-time order")
  }

  test("watermarked conversion labels equal the batch query under within-batch disorder, no flush per user") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val raw = graft.Engine.table(spark, "/root/testdata/sf0.001", "events")
    val evs = raw.withColumn("us", graft.queries.Events.usFor(raw))
      .select("event_id", "user_id", "us", "event_type")
      .as[(Long, Long, Long, String)].collect().sortBy(_._3)
    val (b1, b2) = evs.splitAt(evs.length / 2)
    // ONE far-future event advances the global watermark past every
    // user's last window — the watermark frontier resolves all other
    // users' pending views via event-time timeout, no per-user flush.
    val maxUs = evs.map(_._3).max
    val flush = Seq((1000000L, evs.head._2, maxUs + 2L * 3600000000L + 2000000L, "click"))
    val in = MemoryStream[(Long, Long, Long, String)]
    val q = Streams.conversionLabelsWatermarked(in.toDS())
      .writeStream.format("memory").queryName("conv_wm_full")
      .outputMode(OutputMode.Append()).start()
    try {
      // reverse each batch: every user's arrival order is scrambled
      in.addData(b1.reverse.toIndexedSeq: _*); q.processAllAvailable()
      in.addData(b2.reverse.toIndexedSeq: _*); q.processAllAvailable()
      in.addData(flush: _*); q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("conv_wm_full").collect()
      .map(r => r.getLong(0) -> (Option(r.getAs[Any]("purchase_id"))
        .map(_.asInstanceOf[Long]), r.getAs[Boolean]("converted"))).toMap
    val batch = graft.queries.Events.queries("x_events_conversion")(
      spark, "/root/testdata/sf0.001").collect()
      .map { r =>
        val conv = r.getBoolean(5)
        r.getLong(0) -> (if (conv) Some(r.getLong(4)) else None, conv)
      }.toMap
    assert(got.keySet == batch.keySet, "every view resolved by the watermark frontier")
    got.foreach { case (vid, lab) =>
      assert(lab == batch(vid), s"view $vid: stream $lab vs batch ${batch(vid)}")
    }
    assert(got.values.exists(_._2) && got.values.exists(!_._2), "both labels occur")
  }

  test("stream-stream interval join equals the batch range join with late-but-in-delay rows") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val raw = graft.Engine.table(spark, "/root/testdata/sf0.001", "events")
    val evs = raw.withColumn("us", graft.queries.Events.usFor(raw))
      .select("event_id", "user_id", "us", "event_type")
      .as[(Long, Long, Long, String)].collect().sortBy(_._3)
    val (h1, b2) = evs.splitAt(evs.length / 2)
    // plant genuine cross-batch lateness: rows from the last 5 minutes
    // of batch 1's range are withheld and delivered with batch 2 — they
    // are within the 10-minute watermark delay, so the ENGINE's join
    // state (not our code) must still match them against batch-1 rows
    val maxB1 = h1.map(_._3).max
    val (late, b1) = h1.partition(_._3 > maxB1 - 300L * 1000000L)
    assert(late.nonEmpty, "the planted-late slice must be non-empty")
    val in = MemoryStream[(Long, Long, Long, String)]
    val q = Streams.errorClickIntervalJoin(
      in.toDF().toDF("event_id", "user_id", "us", "event_type"))
      .writeStream.format("memory").queryName("ssjoin_out")
      .outputMode(OutputMode.Append()).start()
    try {
      in.addData(b1.toIndexedSeq: _*); q.processAllAvailable()
      in.addData((late ++ b2).toIndexedSeq: _*); q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("ssjoin_out").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).toSet
    val batch = graft.queries.Events.queries("x_events_range_join")(
      spark, "/root/testdata/sf0.001").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).toSet
    assert(got == batch, s"missing=${(batch -- got).take(5)} extra=${(got -- batch).take(5)}")
    assert(batch.nonEmpty, "the range join must produce pairs at sf0.001")
  }

  test("stream-stream LEFT OUTER interval join: unmatched errors emit null rows after both watermarks pass") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val H = 3600000000L
    // user 1: error @2h with a click @2h02 (within ±5 min) → matched;
    // user 2: error @2h with NO click → the outer row, which the ENGINE
    // may only emit once the watermark proves no matching click can
    // still arrive; the far-future click advances both watermarks.
    val b1 = Seq((1L, 1L, 2L * H, "error"), (2L, 1L, 2L * H + 120000000L, "click"),
      (3L, 2L, 2L * H, "error"))
    // the global join watermark is the MIN across both sides' watermark
    // nodes, so the flush must advance the ERROR side too (a click-only
    // flush leaves the error watermark at 2h and nothing ever evicts);
    // the far-future flush error itself stays in state, never emitted
    val flush = Seq((98L, 4L, 10L * H, "error"), (99L, 3L, 10L * H, "click"))
    val in = MemoryStream[(Long, Long, Long, String)]
    val q = Streams.errorClickIntervalJoinMode(
      in.toDF().toDF("event_id", "user_id", "us", "event_type"), mode = "leftOuter")
      .writeStream.format("memory").queryName("ssjoin_outer")
      .outputMode(OutputMode.Append()).start()
    try {
      in.addData(b1: _*); q.processAllAvailable()
      in.addData(flush: _*); q.processAllAvailable()
      // outer rows are emitted by the state-eviction pass of a batch
      // AFTER the watermark advanced — drive one more micro-batch
      in.addData((100L, 3L, 11L * H, "click")); q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("ssjoin_outer").collect()
      .map(r => (r.getLong(0), Option(r.getAs[Any]("click_id")).map(_.asInstanceOf[Long]),
        Option(r.getAs[Any]("delta_us")).map(_.asInstanceOf[Long]))).toSet
    assert(rows == Set(
      (1L, Some(2L), Some(120000000L)), // matched within the window
      (3L, None, None)                  // watermark-issued outer row
    ), rows.toString)
  }

  test("streaming dedup keys on the columns alone within the watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Ev]
    val events = in.toDF().toDF("ts", "user_id", "event_type", "value")
    // a retransmitted event re-stamped one minute later still dedups:
    // the key is (user_id, event_type), NOT key+ts
    in.addData((ts(0), 1L, "click", 1.0), (ts(0), 1L, "click", 1.0), (ts(1), 1L, "click", 1.0),
      (ts(0), 2L, "view", 1.0))
    runToMemory("dedup_out", Streams.dedupe(events, Seq("user_id", "event_type")), OutputMode.Append())
    assert(spark.table("dedup_out").count() == 2) // (1, click) once + (2, view)
  }

  test("mapGroupsWithState accumulates per-user running totals") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Ev]
    in.addData((ts(0), 1L, "c", 1.5), (ts(1), 1L, "c", 2.5), (ts(2), 2L, "c", 1.0))
    val out = Streams.runningTotals(in.toDS())
    val q = out.writeStream.format("memory").queryName("running_out")
      .outputMode(OutputMode.Update()).start()
    try q.processAllAvailable() finally q.stop()
    val m = spark.table("running_out").collect()
      .map(r => r.getAs[Long]("user_id") -> (r.getAs[Long]("n"), r.getAs[Double]("total"))).toMap
    assert(m(1L) == (2L, 4.0))
    assert(m(2L) == (1L, 1.0))
  }

  test("streaming as-of join: purchases match the latest view, state survives batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Long, Long, String)]
    val q = Streams.asofMatchesWatermarked(in.toDS()).writeStream.format("memory")
      .queryName("asof_out").outputMode(OutputMode.Append()).start()
    try {
      // batch 1: user 1 views at 10 then buys at 20; equal-ts view (20)
      // arrives with the purchase and must be visible to it
      in.addData((100L, 1L, 10L, "view"), (101L, 1L, 20L, "view"), (102L, 1L, 20L, "purchase"))
      q.processAllAvailable()
      // batch 2: a later purchase matches state carried across batches;
      // user 2 buys with no view ever -> null match
      in.addData((103L, 1L, 30L, "purchase"), (104L, 2L, 30L, "purchase"))
      q.processAllAvailable()
      // a far-future view of an unrelated user moves the watermark past
      // every buffered event, so all of them resolve
      in.addData((999L, 9L, 10L * 3600000000L, "view"))
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("asof_out").collect()
      .map(r => r.getAs[Long]("purchase_id") ->
        (Option(r.getAs[Any]("view_id")), Option(r.getAs[Any]("v_us")))).toMap
    assert(rows(102L) == (Some(101L), Some(20L)), s"equal-ts view visible: $rows")
    assert(rows(103L) == (Some(101L), Some(20L)), s"state across batches: $rows")
    assert(rows(104L) == (None, None), s"no view -> null: $rows")
  }

  test("streaming as-of: cross-batch tie-breaks and late purchases match batch semantics") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Long, Long, String)]
    val q = Streams.asofMatchesWatermarked(in.toDS()).writeStream.format("memory")
      .queryName("asof_edge_out").outputMode(OutputMode.Append()).start()
    try {
      // user 1: view id=101 at us=20 lands first
      in.addData((101L, 1L, 20L, "view"))
      q.processAllAvailable()
      // a LATE duplicate-timestamp view with a LOWER id must not displace
      // the (us, event_id)-max winner the batch oracle picks
      in.addData((99L, 1L, 20L, "view"))
      q.processAllAvailable()
      in.addData((110L, 1L, 25L, "purchase"))
      q.processAllAvailable()
      // user 2: view at us=50 in one batch, then a LATE purchase at us=30
      // — must emit a NULL match, never a match to the future
      in.addData((200L, 2L, 50L, "view"))
      q.processAllAvailable()
      in.addData((210L, 2L, 30L, "purchase"))
      q.processAllAvailable()
      // a far-future view of an unrelated user moves the watermark past
      // every buffered event, so all of them resolve
      in.addData((999L, 9L, 10L * 3600000000L, "view"))
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("asof_edge_out").collect()
      .map(r => r.getAs[Long]("purchase_id") ->
        (Option(r.getAs[Any]("view_id")), Option(r.getAs[Any]("v_us")))).toMap
    assert(rows(110L) == (Some(101L), Some(20L)),
      s"late lower-id equal-ts view displaced the winner: $rows")
    assert(rows(210L) == (None, None), s"purchase matched a FUTURE view: $rows")
  }

  test("watermarked as-of: a view delivered after a later purchase is still its match") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val H = 3600000000L // 1h in µs
    // user 1: view v10 @2h and purchase p11 @2h10 arrive in batch 1;
    // view v12 @2h05 (BEFORE the purchase in event time) arrives in
    // batch 2, within the 1h allowed lateness. Batch semantics: the
    // purchase matches v12 (latest view at-or-before), so resolution
    // must wait for the watermark rather than match p11 on arrival.
    val b1 = Seq((10L, 1L, 2L * H, "view"), (11L, 1L, 2L * H + 600000000L, "purchase"))
    val b2 = Seq((12L, 1L, 2L * H + 300000000L, "view"))
    // the as-of frontier derives from view/purchase traffic only (the
    // type filter sits below the watermark), so the flush is a VIEW for
    // an unrelated user — it advances the watermark and emits nothing
    val flush = Seq((99L, 9L, 10L * H, "view"))
    val in = MemoryStream[(Long, Long, Long, String)]
    val q = Streams.asofMatchesWatermarked(in.toDS()).writeStream.format("memory")
      .queryName("asof_wm").outputMode(OutputMode.Append()).start()
    try {
      in.addData(b1: _*); q.processAllAvailable()
      in.addData(b2: _*); q.processAllAvailable()
      in.addData(flush: _*); q.processAllAvailable()
    } finally q.stop()
    val buffered = spark.table("asof_wm").collect().map(r => r.getLong(0) ->
      (Option(r.getAs[Any]("view_id")).map(_.asInstanceOf[Long]),
        Option(r.getAs[Any]("v_us")).map(_.asInstanceOf[Long]))).toMap
    assert(buffered(11L) == (Some(12L), Some(2L * H + 300000000L)),
      s"watermark buffer restores event-time order: $buffered")
  }

  test("watermarked as-of equals the batch query under cross-batch disorder, one global flush") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val raw = graft.Engine.table(spark, "/root/testdata/sf0.001", "events")
    val evs = raw.withColumn("us", graft.queries.Events.usFor(raw))
      .select("event_id", "user_id", "us", "event_type")
      .as[(Long, Long, Long, String)].collect().sortBy(_._3)
    val (b1, b2) = evs.splitAt(evs.length / 2)
    // one far-future VIEW advances the global watermark past every
    // buffered row (a click would be filtered below the watermark node
    // and advance nothing); the event-time timers drain all other
    // users, and a view emits no output row of its own
    val maxUs = evs.map(_._3).max
    val flush = Seq((1000000L, evs.head._2, maxUs + 2L * 3600000000L + 2000000L, "view"))
    val in = MemoryStream[(Long, Long, Long, String)]
    val q = Streams.asofMatchesWatermarked(in.toDS())
      .writeStream.format("memory").queryName("asof_wm_full")
      .outputMode(OutputMode.Append()).start()
    try {
      // reverse each batch: every user's arrival order is scrambled
      in.addData(b1.reverse.toIndexedSeq: _*); q.processAllAvailable()
      in.addData(b2.reverse.toIndexedSeq: _*); q.processAllAvailable()
      in.addData(flush: _*); q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("asof_wm_full").collect()
      .map(r => r.getLong(0) ->
        (Option(r.getAs[Any]("view_id")).map(_.asInstanceOf[Long]),
          Option(r.getAs[Any]("v_us")).map(_.asInstanceOf[Long]))).toMap
    val batch = graft.queries.Events.queries("x_events_asof")(
      spark, "/root/testdata/sf0.001").collect()
      .map(r => r.getLong(0) ->
        (Option(r.getAs[Any]("view_id")).map(_.asInstanceOf[Long]),
          Option(r.getAs[Any]("v_us")).map(_.asInstanceOf[Long]))).toMap
    assert(got.keySet == batch.keySet, "every purchase resolved by the watermark frontier")
    got.foreach { case (pid, m) =>
      assert(m == batch(pid), s"purchase $pid: stream $m vs batch ${batch(pid)}")
    }
    assert(got.values.exists(_._1.isDefined) && got.values.exists(_._1.isEmpty),
      "both matched and null-match purchases occur")
  }

  test("stream-stream FULL OUTER interval join: null rows on both sides after watermarks pass") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val H = 3600000000L
    // user 1: error + click within ±5 min → matched pair;
    // user 2: error with NO click → error-side outer row;
    // user 3: click with NO error → click-side outer row (the leg
    // leftOuter cannot produce). Both outer rows may only be issued by
    // the watermark once no match can still arrive.
    val b1 = Seq((1L, 1L, 2L * H, "error"), (2L, 1L, 2L * H + 120000000L, "click"),
      (3L, 2L, 2L * H, "error"), (4L, 3L, 2L * H, "click"))
    // advance BOTH sides' watermarks (the join watermark is their min)
    val flush = Seq((98L, 8L, 10L * H, "error"), (99L, 9L, 10L * H, "click"))
    val in = MemoryStream[(Long, Long, Long, String)]
    val q = Streams.errorClickIntervalJoinMode(
      in.toDF().toDF("event_id", "user_id", "us", "event_type"), mode = "fullOuter")
      .writeStream.format("memory").queryName("ssjoin_full")
      .outputMode(OutputMode.Append()).start()
    try {
      in.addData(b1: _*); q.processAllAvailable()
      in.addData(flush: _*); q.processAllAvailable()
      // outer rows emit on the state-eviction pass of a LATER batch
      in.addData((100L, 8L, 11L * H, "error"), (101L, 9L, 11L * H, "click"))
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("ssjoin_full").collect()
      .map(r => (Option(r.getAs[Any]("err_id")).map(_.asInstanceOf[Long]),
        Option(r.getAs[Any]("click_id")).map(_.asInstanceOf[Long]),
        r.getAs[Long]("user_id"),
        Option(r.getAs[Any]("delta_us")).map(_.asInstanceOf[Long]))).toSet
    assert(rows.contains((Some(1L), Some(2L), 1L, Some(120000000L))), s"matched pair: $rows")
    assert(rows.contains((Some(3L), None, 2L, None)), s"error-side outer row: $rows")
    assert(rows.contains((None, Some(4L), 3L, None)), s"click-side outer row: $rows")
    // user_id must be total in full-outer mode (coalesced across sides)
    assert(rows.forall(_._3 > 0L), s"null user_id leaked: $rows")
  }

  test("streaming stratified sample selects exactly the batch sampler's docs") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, String)]
    val q = Streams.stratifiedSample(in.toDF().toDF("doc_id", "lang"))
      .writeStream.format("memory").queryName("strat_out")
      .outputMode(OutputMode.Append()).start()
    val docs = (0L until 200L).map(i => (i, Seq("en", "de", "fr")((i % 3).toInt)))
    try { in.addData(docs: _*); q.processAllAvailable() } finally q.stop()
    val streamed = spark.table("strat_out").collect().map(_.getLong(0)).toSet
    val batch = docs.toDF("doc_id", "lang")
      .filter(org.apache.spark.sql.functions.substring(
        org.apache.spark.sql.functions.md5($"doc_id".cast("string")), 1, 1) <
        org.apache.spark.sql.functions.when($"lang" === "en",
          org.apache.spark.sql.functions.lit("4"))
          .otherwise(org.apache.spark.sql.functions.lit("8")))
      .collect().map(_.getLong(0)).toSet
    assert(streamed == batch, "stream and backfill must select identical docs")
    assert(streamed.nonEmpty && streamed.size < docs.size)
  }

  test("streaming mixture filter keeps exactly the hash-gated aggregate's docs") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val sf = "/root/testdata/sf0.001"
    // rates fit on the backfill — the (source, rate) slice of the
    // oracle-gated mixture aggregate
    val mix = graft.queries.Curation.queries("x_cur_mixture")(spark, sf)
    val rates = mix.select("source", "rate")
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "source").as[(Long, String)].collect().toSeq
    val in = MemoryStream[(Long, String)]
    val q = Streams.mixtureFilter(in.toDF().toDF("doc_id", "source"), rates)
      .writeStream.format("memory").queryName("mix_out")
      .outputMode(OutputMode.Append()).start()
    // two micro-batches: the kept set must not depend on the boundary
    val (b1, b2) = docs.splitAt(docs.size / 2)
    try {
      in.addData(b1: _*); q.processAllAvailable()
      in.addData(b2: _*); q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("mix_out").collect().map(_.getLong(1)).toSet
    // the same helper on a batch frame selects the same docs…
    val batch = Streams.mixtureFilter(
      docs.toDF("doc_id", "source"), rates).collect().map(_.getLong(1)).toSet
    assert(streamed == batch, "stream and backfill must keep identical docs")
    // …and both agree with the aggregate's per-source kept_docs counts
    val wantPerSource = mix.select("source", "kept_docs").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val gotPerSource = spark.table("mix_out").collect()
      .groupBy(_.getString(0)).map { case (s0, rs) => s0 -> rs.length.toLong }
    assert(gotPerSource == wantPerSource,
      s"per-source kept counts diverge: got $gotPerSource want $wantPerSource")
    assert(streamed.nonEmpty && streamed.size < docs.size, "mixture must down-sample")
  }

  test("streaming blocklist filter keeps exactly the batch verdict's docs") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, String)]
    val q = Streams.blocklistFilter(in.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("blocklist_out")
      .outputMode(OutputMode.Append()).start()
    val docs = Seq(
      (0L, "fast table scan"), (1L, "a slow merge join"), (2L, "spam"),
      (3L, "slowly but surely"), // substring must NOT match the token rule
      (4L, "lorem ipsum dolor"), (5L, "value part hash"))
    try { in.addData(docs: _*); q.processAllAvailable() } finally q.stop()
    val kept = spark.table("blocklist_out").collect().map(_.getLong(0)).toSet
    assert(kept == Set(0L, 3L, 5L), s"got $kept")
    // schema passthrough: text survives the filter
    assert(spark.table("blocklist_out").columns.toSeq == Seq("doc_id", "text"))
    // a PRE-EXISTING ws column passes through untouched (the predicate
    // tokenizes internally; batch and stream share the plan)
    val withWs = Streams.blocklistFilter(
      Seq((1L, "fast scan", "pre"), (2L, "a slow join", "gone"))
        .toDF("doc_id", "text", "ws"))
    assert(withWs.columns.toSeq == Seq("doc_id", "text", "ws"))
    assert(withWs.collect().map(r => (r.getLong(0), r.getString(2))).toSeq ==
      Seq((1L, "pre")))
  }

  test("streaming contamination counts overlap against the static benchmark set") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val bench = Seq("a b c", "b c d").toDF("s")
    val in = MemoryStream[(Long, String)]
    val q = Streams.contaminationCounts(in.toDF().toDF("doc_id", "text"), bench)
      .writeStream.format("memory").queryName("contam_out")
      .outputMode(OutputMode.Update()).start()
    try {
      in.addData((1L, "a b c d e"), (2L, "x y z w"), (3L, "a b c"))
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("contam_out").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rows.get(1L).contains(2L), s"doc 1 overlaps both benchmark shingles: $rows")
    assert(rows.get(3L).contains(1L), s"doc 3 overlaps one: $rows")
    assert(!rows.contains(2L), s"doc 2 has no overlap: $rows")
  }

  test("contamination counts with a watermark: ts survives shingling, state is evictable") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val bench = Seq("a b c", "b c d").toDF("s")
    val in = MemoryStream[(Timestamp, Long, String)]
    // Append mode only emits once the watermark closes a (doc_id, ts)
    // group — proof the watermark actually binds to the aggregation
    // (the eviction path ADVICE r5 flagged as unresolvable).
    val q = Streams.contaminationCounts(in.toDF().toDF("ts", "doc_id", "text"),
        bench, watermarkOn = Some(("ts", "10 minutes")))
      .writeStream.format("memory").queryName("contam_wm_out")
      .outputMode(OutputMode.Append()).start()
    try {
      in.addData((ts(0), 1L, "a b c d e"), (ts(0), 2L, "x y z w"), (ts(1), 3L, "a b c"))
      q.processAllAvailable()
      assert(spark.table("contam_wm_out").isEmpty,
        "append emits nothing before the watermark passes")
      in.addData((ts(600), 4L, "a b c"))
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("contam_wm_out").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_overlap")).toMap
    assert(rows.get(1L).contains(2L), s"doc 1 overlaps both benchmark shingles: $rows")
    assert(rows.get(3L).contains(1L), s"doc 3 overlaps one: $rows")
    assert(!rows.contains(2L), s"doc 2 has no overlap: $rows")
  }

  test("streaming curation ingest: blocklist+index-dedup+mixture equals the one-shot backfill") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val idx = java.nio.file.Files.createTempDirectory("graft-ingest-idx").toString
    graft.queries.Dedup.writeMinhashIndex(spark, sf, idx, col("doc_id") < 400)
    val rates = graft.queries.Curation.queries("x_cur_mixture")(spark, sf)
      .select("source", "rate")
    val increment = spark.read.parquet(s"$sf/documents.parquet")
      .filter(col("doc_id") >= 400).select("doc_id", "source", "text")
    // one-shot backfill of the same composition = the expected kept set
    val want = Streams.curationIngestBatch(increment, rates, idx)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(want.nonEmpty, "composition kept nothing — equivalence gate is vacuous")
    // …and every stage must actually bite on the increment
    val dupDocs = graft.queries.Dedup.incrementalDupsOf(increment, idx)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(dupDocs.nonEmpty, "no cross-boundary dups — dedup stage is vacuous")
    assert(want.intersect(dupDocs).isEmpty, "a dup of the index survived ingest")

    val rows = increment.as[(Long, String, String)].collect()
    val (b1, b2) = rows.splitAt(rows.length / 2)
    val in = MemoryStream[(Long, String, String)]
    val got = scala.collection.mutable.ArrayBuffer.empty[Long]
    val q = Streams.curationIngest(
      in.toDF().toDF("doc_id", "source", "text"), rates, idx) { (kept, _) =>
      got.synchronized { got ++= kept.select("doc_id").collect().map(_.getLong(0)) }
      ()
    }.start()
    try {
      in.addData(b1.toIndexedSeq: _*); q.processAllAvailable()
      in.addData(b2.toIndexedSeq: _*); q.processAllAvailable()
    } finally q.stop()
    assert(got.toSet == want,
      s"stream-only: ${got.toSet.diff(want)}; backfill-only: ${want.diff(got.toSet)}")
    assert(got.size == got.toSet.size, "a doc was emitted twice across batches")
  }

  test("streaming phash ingest gate: micro-batched image batches emit the one-shot probe verdicts") {
    import graft.queries.Multimodal
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val warehouse = new java.net.URI(spark.conf.get("spark.sql.warehouse.dir")).getPath
    for (t <- Seq("stx_ph_sig", "stx_ph_keys")) {
      spark.sql(s"DROP TABLE IF EXISTS $t")
      org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(warehouse, t))
    }
    Multimodal.writePhashIndex(spark, sf, "stx_ph", maxId = 120)
    val expected = Multimodal.incrementalPhashDupsAgainstIndex(
      Multimodal.perturbedPngTwins(spark, sf, maxId = 120), "stx_ph")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(expected.nonEmpty, "the one-shot probe must find the planted twins")
    val assets = Multimodal.perturbedPngTwins(spark, sf, maxId = 120).collect()
    val (b1, b2) = assets.splitAt(assets.length / 2)
    assert(b1.nonEmpty && b2.nonEmpty)
    val in = MemoryStream[Multimodal.Asset]
    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
    val q = Streams.phashIngest(in.toDS(), "stx_ph") { (verdicts, _) =>
      got.synchronized {
        got ++= verdicts.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      }
      ()
    }.start()
    try {
      in.addData(b1.toIndexedSeq: _*); q.processAllAvailable()
      in.addData(b2.toIndexedSeq: _*); q.processAllAvailable()
    } finally q.stop()
    assert(got.toSet == expected, "micro-batched ingest == one-shot probe")
    assert(got.size == expected.size, "no double emission across batches")
  }

  test("streaming ANN serving: micro-batched queries emit the one-shot batch verdicts") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val warehouse = new java.net.URI(spark.conf.get("spark.sql.warehouse.dir")).getPath
    for (t <- Seq("stx_ivf2_coarse", "stx_ivf2_fine", "stx_ivf2_postings")) {
      spark.sql(s"DROP TABLE IF EXISTS $t")
      org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(warehouse, t))
    }
    graft.queries.Similarity.writeIvf2Index(spark, sf, "stx_ivf2")
    val queries = spark.read.parquet(s"$sf/embeddings.parquet")
      .filter(col("vec_id") < 10).select("vec_id", "embedding")
    // one-shot batch search over all 10 queries = the expected verdicts
    val expected = graft.queries.Similarity
      .ivf2SearchOf(queries, "stx_ivf2", nprobeC = 2, nprobeF = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    assert(expected.size == 50, s"10 queries x top-5 expected, got ${expected.size}")

    val rows = queries.as[(Long, Array[Float])].collect()
    val (b1, b2) = rows.splitAt(rows.length / 2)
    assert(b1.nonEmpty && b2.nonEmpty, "need two non-trivial micro-batches")
    val in = MemoryStream[(Long, Array[Float])]
    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Double)]
    val q = Streams.annSearch(in.toDF().toDF("vec_id", "embedding"), "stx_ivf2",
      nprobeC = 2, nprobeF = 4) { (verdicts, _) =>
      got.synchronized {
        got ++= verdicts.collect().map(r =>
          (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      }
      ()
    }.start()
    try {
      in.addData(b1.toIndexedSeq: _*); q.processAllAvailable()
      in.addData(b2.toIndexedSeq: _*); q.processAllAvailable()
    } finally q.stop()
    assert(got.toSet == expected,
      s"stream-only: ${got.toSet.diff(expected)}; batch-only: ${expected.diff(got.toSet)}")
    assert(got.size == expected.size, "a verdict was emitted twice across batches")
  }

  test("streaming IVF-PQ serving: micro-batched queries emit the one-shot batch verdicts") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val warehouse = new java.net.URI(spark.conf.get("spark.sql.warehouse.dir")).getPath
    for (t <- Seq("stx_pq_codebook", "stx_pq_cents", "stx_pq_postings")) {
      spark.sql(s"DROP TABLE IF EXISTS $t")
      org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(warehouse, t))
    }
    graft.queries.ProductQuant.writePqIndex(spark, sf, "stx_pq")
    val queries = spark.read.parquet(s"$sf/embeddings.parquet")
      .filter(col("vec_id") < 10).select("vec_id", "embedding")
    val expected = graft.queries.ProductQuant
      .ivfPqSearchOf(queries, "stx_pq", nprobe = 4, shortlist = 20)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    assert(expected.size == 50, s"10 queries x top-5 expected, got ${expected.size}")

    val rows = queries.as[(Long, Array[Float])].collect()
    val (b1, b2) = rows.splitAt(rows.length / 2)
    assert(b1.nonEmpty && b2.nonEmpty, "need two non-trivial micro-batches")
    val in = MemoryStream[(Long, Array[Float])]
    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Double)]
    val q = Streams.pqSearch(in.toDF().toDF("vec_id", "embedding"), "stx_pq",
      nprobe = 4, shortlist = 20) { (verdicts, _) =>
      got.synchronized {
        got ++= verdicts.collect().map(r =>
          (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      }
      ()
    }.start()
    try {
      in.addData(b1.toIndexedSeq: _*); q.processAllAvailable()
      in.addData(b2.toIndexedSeq: _*); q.processAllAvailable()
    } finally q.stop()
    assert(got.toSet == expected,
      s"stream-only: ${got.toSet.diff(expected)}; batch-only: ${expected.diff(got.toSet)}")
    assert(got.size == expected.size, "a verdict was emitted twice across batches")
  }

  test("streaming BM25 serving: micro-batched queries emit the one-shot batch verdicts") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val warehouse = new java.net.URI(spark.conf.get("spark.sql.warehouse.dir")).getPath
    for (t <- Seq("stx_bm25_tf", "stx_bm25_dl", "stx_bm25_stats")) {
      spark.sql(s"DROP TABLE IF EXISTS $t")
      org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(warehouse, t))
    }
    graft.queries.TextAnalysis.writeBm25Index(spark, sf, "stx_bm25")
    val queries = spark.read.parquet(s"$sf/documents.parquet").filter(col("doc_id") < 5)
      .select(col("doc_id").as("qid"), expr("slice(split(text, ' '), 1, 3)").as("terms"))
    val expected = graft.queries.TextAnalysis.bm25SearchOf(queries, "stx_bm25")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    assert(expected.size == 50, s"5 queries x top-10 expected, got ${expected.size}")

    val rows = queries.as[(Long, Seq[String])].collect()
    val (b1, b2) = rows.splitAt(rows.length / 2)
    assert(b1.nonEmpty && b2.nonEmpty)
    val in = MemoryStream[(Long, Seq[String])]
    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Double)]
    val q = Streams.bm25Search(in.toDF().toDF("qid", "terms"), "stx_bm25") { (verdicts, _) =>
      got.synchronized {
        got ++= verdicts.collect().map(r =>
          (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      }
      ()
    }.start()
    try {
      in.addData(b1.toIndexedSeq: _*); q.processAllAvailable()
      in.addData(b2.toIndexedSeq: _*); q.processAllAvailable()
    } finally q.stop()
    assert(got.toSet == expected,
      s"stream-only: ${got.toSet.diff(expected)}; batch-only: ${expected.diff(got.toSet)}")
    assert(got.size == expected.size, "a verdict was emitted twice across batches")
  }

  test("streaming bm25 ingest: micro-batched appends leave a score-exact index") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val warehouse = new java.net.URI(spark.conf.get("spark.sql.warehouse.dir")).getPath
    for (t <- Seq("sbi_bm25_tf", "sbi_bm25_dl", "sbi_bm25_stats")) {
      spark.sql(s"DROP TABLE IF EXISTS $t")
      org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(warehouse, t))
    }
    // seed with a 300-doc backfill index, then stream the rest of the
    // corpus in two micro-batches
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val base = java.nio.file.Files.createTempDirectory("graft-sbi").toString
    docs.filter(col("doc_id") < 300).write.parquet(s"$base/documents.parquet")
    graft.queries.TextAnalysis.writeBm25Index(spark, base, "sbi_bm25")
    val rest = docs.filter(col("doc_id") >= 300)
      .select("doc_id", "text").as[(Long, String)].collect()
    val (b1, b2) = rest.splitAt(rest.length / 2)
    assert(b1.nonEmpty && b2.nonEmpty)
    val in = MemoryStream[(Long, String)]
    val seen = scala.collection.mutable.ArrayBuffer.empty[Long]
    val q = Streams.bm25Ingest(in.toDF().toDF("doc_id", "text"), "sbi_bm25") {
      (batch, _) => seen.synchronized { seen += batch.count() }; ()
    }.start()
    try {
      in.addData(b1.toIndexedSeq: _*); q.processAllAvailable()
      in.addData(b2.toIndexedSeq: _*); q.processAllAvailable()
    } finally q.stop()
    assert(seen.sum == rest.length, "every streamed doc must reach an append")
    // after the drain the index serves EXACTLY the full-corpus scores —
    // not approximately-stale ones (df/stats derive from union postings)
    val queries = docs.filter(col("doc_id") < 5)
      .select(col("doc_id").as("qid"), expr("slice(split(text, ' '), 1, 3)").as("terms"))
    val got = graft.queries.TextAnalysis.bm25SearchOf(queries, "sbi_bm25").collect().toSeq
    val want = graft.queries.TextAnalysis.queries("x_text_bm25")(spark, sf).collect().toSeq
    assert(got == want, "streamed index must score exactly like the full-corpus query")
    for (t <- Seq("sbi_bm25_tf", "sbi_bm25_dl", "sbi_bm25_stats"))
      spark.sql(s"DROP TABLE IF EXISTS $t")
  }

  test("maintained bm25 ingest: compaction fires mid-stream, index stays score-exact") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val warehouse = new java.net.URI(spark.conf.get("spark.sql.warehouse.dir")).getPath
    for (t <- Seq("smi_bm25_tf", "smi_bm25_dl", "smi_bm25_stats")) {
      spark.sql(s"DROP TABLE IF EXISTS $t")
      org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(warehouse, t))
    }
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val base = java.nio.file.Files.createTempDirectory("graft-smi").toString
    docs.filter(col("doc_id") < 200).write.parquet(s"$base/documents.parquet")
    graft.queries.TextAnalysis.writeBm25Index(spark, base, "smi_bm25")
    // four appends against maxGroups = 1.5: without maintenance the
    // per-bucket stack would reach 5; the audit must fire at least once
    val rest = docs.filter(col("doc_id") >= 200)
      .select("doc_id", "text").as[(Long, String)].collect().sortBy(_._1)
    val batches = rest.grouped(math.max(1, rest.length / 4)).toSeq
    val in = MemoryStream[(Long, String)]
    val compactions = scala.collection.mutable.ArrayBuffer.empty[Boolean]
    val q = Streams.bm25IngestMaintained(
        in.toDF().toDF("doc_id", "text"), "smi_bm25", maxGroups = 1.5) {
      (_, _, compacted) => compactions.synchronized { compactions += compacted }; ()
    }.start()
    try {
      batches.foreach { b => in.addData(b.toIndexedSeq: _*); q.processAllAvailable() }
    } finally q.stop()
    assert(compactions.count(identity) >= 1,
      s"the audit must have triggered at least one mid-stream compaction: $compactions")
    // steady state: the stack never exceeds maxGroups rounded up + the
    // one group a fresh append adds before its own audit runs
    val audit = graft.Engine.bucketFileAudit(spark, "smi_bm25_tf", maxGroups = 1.5).head()
    assert(audit.getLong(3) <= 2, s"file hygiene not maintained: $audit")
    // and maintenance never changed a score: the drained index serves the
    // full-corpus query exactly
    val queries = docs.filter(col("doc_id") < 5)
      .select(col("doc_id").as("qid"), expr("slice(split(text, ' '), 1, 3)").as("terms"))
    val got = graft.queries.TextAnalysis.bm25SearchOf(queries, "smi_bm25").collect().toSeq
    val want = graft.queries.TextAnalysis.queries("x_text_bm25")(spark, sf).collect().toSeq
    assert(got == want, "maintained index must score exactly like the full-corpus query")
    for (t <- Seq("smi_bm25_tf", "smi_bm25_dl", "smi_bm25_stats"))
      spark.sql(s"DROP TABLE IF EXISTS $t")
  }

  test("maintained ann ingest: hotspot drift trips the audit, refit fires, index stays total") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.typedLit
    val warehouse = new java.net.URI(spark.conf.get("spark.sql.warehouse.dir")).getPath
    for (t <- Seq("sann_coarse", "sann_fine", "sann_postings")) {
      spark.sql(s"DROP TABLE IF EXISTS $t")
      org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(warehouse, t))
    }
    val base = java.nio.file.Files.createTempDirectory("graft-sann").toString
    spark.read.parquet(s"$sf/embeddings.parquet").filter(col("vec_id") < 400)
      .write.parquet(s"$base/embeddings.parquet")
    graft.queries.Similarity.writeIvf2Index(spark, base, "sann")
    val queries = spark.read.parquet(s"$sf/embeddings.parquet")
      .filter(col("vec_id") < 10).select("vec_id", "embedding")
    // the audit POLICY: bar at 1.5x the healthy baseline imbalance
    val bar = graft.queries.Similarity.ivf2DriftAudit(spark, "sann", queries,
      nprobeC = 2, nprobeF = 2, minRecall = 0.0, maxImbalance = Double.MaxValue)
      .head().getAs[Double]("imbalance") * 1.5
    // two hot-spot batches of 250 copies of vector 0 — the re-crawl
    // pathology the frozen fit has never seen
    val v0 = spark.read.parquet(s"$sf/embeddings.parquet")
      .filter(col("vec_id") === 0L).select("embedding")
      .head().getSeq[Float](0).toArray
    val b1 = (0L until 250L).map(i => (1000000L + i, v0.toSeq))
    val b2 = (0L until 250L).map(i => (2000000L + i, v0.toSeq))
    val in = MemoryStream[(Long, Seq[Float])]
    val refits = scala.collection.mutable.ArrayBuffer.empty[Boolean]
    val q = Streams.annIngestMaintained(
        in.toDF().toDF("vec_id", "embedding"), "sann", queries,
        nprobeC = 2, nprobeF = 2, minRecall = 0.0, maxImbalance = bar) {
      (verdict, _, refitted) =>
        assert(verdict.isDefined, "auditEvery=1 must audit every batch")
        refits.synchronized { refits += refitted }
        ()
    }.start()
    try {
      in.addData(b1.toIndexedSeq: _*); q.processAllAvailable()
      in.addData(b2.toIndexedSeq: _*); q.processAllAvailable()
    } finally q.stop()
    assert(refits.contains(true),
      s"the hotspot must have tripped a mid-stream refit: $refits")
    // the maintained index holds every folded vector and stays a TOTAL
    // search structure after the refit
    assert(spark.table("sann_postings").count() == 900L)
    val full = graft.queries.Similarity.ivf2DriftAudit(spark, "sann", queries,
      nprobeC = 1024, nprobeF = 1024).head()
    assert(full.getAs[Double]("mean_recall") == 1.0,
      s"exhaustive probe after maintained refit must recall everything: $full")
    for (t <- Seq("sann_coarse", "sann_fine", "sann_postings"))
      spark.sql(s"DROP TABLE IF EXISTS $t")
  }

  test("maintained pq ingest: hotspot drift trips the audit, refit fires, index stays total") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.typedLit
    val warehouse = new java.net.URI(spark.conf.get("spark.sql.warehouse.dir")).getPath
    for (t <- Seq("spq_codebook", "spq_cents", "spq_postings")) {
      spark.sql(s"DROP TABLE IF EXISTS $t")
      org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(warehouse, t))
    }
    val base = java.nio.file.Files.createTempDirectory("graft-spq").toString
    spark.read.parquet(s"$sf/embeddings.parquet").filter(col("vec_id") < 400)
      .write.parquet(s"$base/embeddings.parquet")
    graft.queries.ProductQuant.writePqIndex(spark, base, "spq")
    val queries = spark.read.parquet(s"$sf/embeddings.parquet")
      .filter(col("vec_id") < 10).select("vec_id", "embedding")
    val bar = graft.queries.ProductQuant.pqDriftAudit(spark, "spq", queries,
      minRecall = 0.0, maxImbalance = Double.MaxValue)
      .head().getAs[Double]("imbalance") * 1.5
    val v0 = spark.read.parquet(s"$sf/embeddings.parquet")
      .filter(col("vec_id") === 0L).select("embedding")
      .head().getSeq[Float](0).toArray
    val b1 = (0L until 250L).map(i => (1000000L + i, v0.toSeq))
    val b2 = (0L until 250L).map(i => (2000000L + i, v0.toSeq))
    val in = MemoryStream[(Long, Seq[Float])]
    val refits = scala.collection.mutable.ArrayBuffer.empty[Boolean]
    val q = Streams.pqIngestMaintained(
        in.toDF().toDF("vec_id", "embedding"), "spq", queries,
        minRecall = 0.0, maxImbalance = bar) {
      (verdict, _, refitted) =>
        assert(verdict.isDefined, "auditEvery=1 must audit every batch")
        refits.synchronized { refits += refitted }
        ()
    }.start()
    try {
      in.addData(b1.toIndexedSeq: _*); q.processAllAvailable()
      in.addData(b2.toIndexedSeq: _*); q.processAllAvailable()
    } finally q.stop()
    assert(refits.contains(true),
      s"the hotspot must have tripped a mid-stream refit: $refits")
    assert(spark.table("spq_postings").count() == 900L)
    val full = graft.queries.ProductQuant.pqDriftAudit(spark, "spq", queries,
      nprobe = 1024, shortlist = 100000).head()
    assert(full.getAs[Double]("mean_recall") == 1.0,
      s"exhaustive probe after maintained refit must recall everything: $full")
    for (t <- Seq("spq_codebook", "spq_cents", "spq_postings"))
      spark.sql(s"DROP TABLE IF EXISTS $t")
  }

  test("maintained minhash ingest: copies gate, keepers fold, compaction fires, copies of folded docs caught") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val warehouse = new java.net.URI(spark.conf.get("spark.sql.warehouse.dir")).getPath
    for (t <- Seq("smm_sig", "smm_keys", "smm_counts")) {
      spark.sql(s"DROP TABLE IF EXISTS $t")
      org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(warehouse, t))
    }
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    graft.queries.Dedup.writeMinhashIndexBucketed(spark, sf, "smm", buckets = 8,
      docFilter = col("doc_id") < 200)
    // batch 1: VERBATIM copies of seeded docs under fresh ids — every one
    // must gate (est_j = 1) and nothing folds; batches 2-4: the rest of
    // the corpus — at maxGroups = 1.5 the second fold trips the audit
    val seeded = docs.filter(col("doc_id") < 5)
      .select("doc_id", "text").as[(Long, String)].collect()
    val copies = seeded.map { case (id, t) => (id + 1000000L, t) }
    val rest = docs.filter(col("doc_id") >= 200)
      .select("doc_id", "text").as[(Long, String)].collect().sortBy(_._1)
    val batches = copies +: rest.grouped(math.max(1, rest.length / 3)).toSeq
    val in = MemoryStream[(Long, String)]
    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    val compactions = scala.collection.mutable.ArrayBuffer.empty[Boolean]
    val q = Streams.minhashIngestMaintained(
        in.toDF().toDF("doc_id", "text"), "smm", maxGroups = 1.5) {
      (verdicts, _, compacted) =>
        got.synchronized { got ++= verdicts.collect().map(r => (r.getLong(0), r.getLong(2))) }
        compactions.synchronized { compactions += compacted }
        ()
    }.start()
    try {
      for (b <- batches) { in.addData(b.toIndexedSeq: _*); q.processAllAvailable() }
    } finally q.stop()
    // the gate: every verbatim copy flagged against its seeded original
    copies.foreach { case (cid, _) => assert(
      got.exists(v => v._1 == cid && v._2 == cid - 1000000L),
      s"copy $cid not gated against its original") }
    // copies never folded: their ids are absent from the sig table
    val sigIds = spark.table("smm_sig").select("doc_id")
      .collect().map(_.getLong(0)).toSet
    copies.foreach { case (cid, _) =>
      assert(!sigIds.contains(cid), s"gated copy $cid must not have folded") }
    // maintenance fired and held the stack down
    assert(compactions.count(identity) >= 1,
      s"the audit must have triggered a mid-stream compaction: $compactions")
    val audit = graft.Engine.bucketFileAudit(spark, "smm_keys", maxGroups = 1.5).head()
    assert(audit.getLong(3) <= 2, s"file hygiene not maintained: $audit")
    // the fold: a verbatim copy of a FOLDED (streamed, ungated) doc is
    // caught by a fresh probe — the keepers genuinely entered history
    val gated = got.map(_._1).toSet
    val folded = rest.filterNot { case (id, _) => gated(id) }
    assert(folded.length >= rest.length / 2, s"most streamed docs should fold (${folded.length})")
    val (fid, ftext) = folded.head
    val reprobe = graft.queries.Dedup.incrementalDupsAgainstBucketedIndexOf(
        Seq((fid + 2000000L, ftext)).toDF("doc_id", "text"), "smm")
      .collect().map(r => (r.getLong(0), r.getLong(2)))
    assert(reprobe.exists(v => v._1 == fid + 2000000L && v._2 == fid),
      s"copy of folded doc $fid must be caught by the maintained index: ${reprobe.toSeq}")
    for (t <- Seq("smm_sig", "smm_keys", "smm_counts"))
      spark.sql(s"DROP TABLE IF EXISTS $t")
  }

  test("maintained phash ingest: gate then fold keepers; compaction fires; twins reachable") {
    import graft.queries.Multimodal
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val warehouse = new java.net.URI(spark.conf.get("spark.sql.warehouse.dir")).getPath
    for (t <- Seq("smp_ph_sig", "smp_ph_keys")) {
      spark.sql(s"DROP TABLE IF EXISTS $t")
      org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(warehouse, t))
    }
    Multimodal.writePhashIndex(spark, sf, "smp_ph", maxId = 120)
    // batch 1: perturbed twins of indexed assets — every one gates as a
    // duplicate, NOTHING folds; batches 2-3: fresh id ranges — novel,
    // fold, and at maxGroups = 1.5 the second fold trips the audit
    val twins = Multimodal.perturbedPngTwins(spark, sf, maxId = 120).collect()
    val fresh1 = Multimodal.assets(spark, sf, maxId = 180, onlyMime = Some("image/png"))
      .collect().filter(_.asset_id >= 120)
    val fresh2 = Multimodal.assets(spark, sf, maxId = 240, onlyMime = Some("image/png"))
      .collect().filter(_.asset_id >= 180)
    assert(twins.nonEmpty && fresh1.nonEmpty && fresh2.nonEmpty)
    val in = MemoryStream[Multimodal.Asset]
    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    val compactions = scala.collection.mutable.ArrayBuffer.empty[Boolean]
    val q = Streams.phashIngestMaintained(in.toDS(), "smp_ph", maxGroups = 1.5) {
      (verdicts, _, compacted) =>
        got.synchronized { got ++= verdicts.collect().map(r => (r.getLong(0), r.getLong(1))) }
        compactions.synchronized { compactions += compacted }
        ()
    }.start()
    try {
      for (b <- Seq(twins, fresh1, fresh2)) {
        in.addData(b.toIndexedSeq: _*); q.processAllAvailable()
      }
    } finally q.stop()
    // the gate: every twin flagged against its base. (Fresh assets MAY
    // legitimately gate too — the synthetic corpus contains natural
    // hamming-<=6 pairs, and every verdict is exact-hamming-refined, so
    // a false positive is impossible by construction; what the gate
    // decides is which fresh assets fold.)
    twins.foreach(t => assert(
      got.contains((t.asset_id, t.asset_id - Multimodal.PhashTwinIdOffset)),
      s"twin ${t.asset_id} not gated against its base"))
    // maintenance actually fired and held the stack down
    assert(compactions.count(identity) >= 1,
      s"the audit must have triggered a mid-stream compaction: $compactions")
    val audit = graft.Engine.bucketFileAudit(spark, "smp_ph_keys", maxGroups = 1.5).head()
    assert(audit.getLong(3) <= 2, s"file hygiene not maintained: $audit")
    // the fold: exactly the UNGATED fresh assets entered history — a twin
    // of each folded asset is now caught, and enough folded for the pin
    // to be non-vacuous
    val gated = got.map(_._1).toSet
    val foldedIds = (fresh1 ++ fresh2).map(_.asset_id).filterNot(gated)
    assert(foldedIds.size >= (fresh1.length + fresh2.length) / 2,
      s"most fresh assets should be novel (folded ${foldedIds.size})")
    val reprobe = Multimodal.incrementalPhashDupsAgainstIndex(
        Multimodal.perturbedPngTwins(spark, sf, maxId = 240), "smp_ph")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(foldedIds.forall(id => reprobe.contains((id + Multimodal.PhashTwinIdOffset, id))),
      "a twin of a folded asset must be reachable through the maintained index")
    // and a gated-away fresh asset must NOT be independently indexed: its
    // twin may still hit the asset's own near-dup chain, but the asset
    // id itself never became history
    val sigIds = spark.table("smp_ph_sig").select("asset_id")
      .collect().map(_.getLong(0)).toSet
    ((fresh1 ++ fresh2).map(_.asset_id).filter(gated)).foreach(id =>
      assert(!sigIds.contains(id), s"gated asset $id must not have folded"))
    for (t <- Seq("smp_ph_sig", "smp_ph_keys")) spark.sql(s"DROP TABLE IF EXISTS $t")
  }

  test("streaming hybrid serving: micro-batched queries emit the one-shot fused verdicts") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val warehouse = new java.net.URI(spark.conf.get("spark.sql.warehouse.dir")).getPath
    for (t <- Seq("sthy_bm25_tf", "sthy_bm25_dl", "sthy_bm25_stats",
        "sthy_ivf2_coarse", "sthy_ivf2_fine", "sthy_ivf2_postings")) {
      spark.sql(s"DROP TABLE IF EXISTS $t")
      org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(warehouse, t))
    }
    graft.queries.TextAnalysis.writeBm25Index(spark, sf, "sthy_bm25")
    graft.queries.Similarity.writeIvf2Index(spark, sf, "sthy_ivf2")
    val queries = spark.read.parquet(s"$sf/documents.parquet").filter(col("doc_id") < 5)
      .select(col("doc_id").as("qid"), expr("slice(split(text, ' '), 1, 3)").as("terms"))
      .join(spark.read.parquet(s"$sf/embeddings.parquet")
        .filter(col("vec_id") < 5).select(col("vec_id").as("qid"), col("embedding")),
        Seq("qid"))
    val expected = graft.queries.TextAnalysis
      .hybridSearchOf(queries, "sthy_bm25", "sthy_ivf2")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    assert(expected.nonEmpty)

    val rows = queries.as[(Long, Seq[String], Seq[Float])].collect()
    val (b1, b2) = rows.splitAt(rows.length / 2)
    assert(b1.nonEmpty && b2.nonEmpty)
    val in = MemoryStream[(Long, Seq[String], Seq[Float])]
    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Double)]
    val q = Streams.hybridSearch(
      in.toDF().toDF("qid", "terms", "embedding"), "sthy_bm25", "sthy_ivf2") { (verdicts, _) =>
      got.synchronized {
        got ++= verdicts.collect().map(r =>
          (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      }
      ()
    }.start()
    try {
      in.addData(b1.toIndexedSeq: _*); q.processAllAvailable()
      in.addData(b2.toIndexedSeq: _*); q.processAllAvailable()
    } finally q.stop()
    assert(got.toSet == expected,
      s"stream-only: ${got.toSet.diff(expected).take(5)}; batch-only: ${expected.diff(got.toSet).take(5)}")
    assert(got.size == expected.size, "a verdict was emitted twice across batches")
    for (t <- Seq("sthy_bm25_tf", "sthy_bm25_dl", "sthy_bm25_stats",
        "sthy_ivf2_coarse", "sthy_ivf2_fine", "sthy_ivf2_postings"))
      spark.sql(s"DROP TABLE IF EXISTS $t")
  }

  test("streaming nb classification: micro-batched docs emit the one-shot batch verdicts") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docs = spark.read.parquet(s"$sf/documents.parquet").select("doc_id", "text")
    val labels = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id").as("doc_id"), col("label").cast("long").as("label"))
    val train = labels.filter(
      org.apache.spark.sql.functions.substring(
        org.apache.spark.sql.functions.md5($"doc_id".cast("string")), 1, 1) < "8")
    // model fit ONCE on the backfill; the stream applies it frozen
    val model = graft.queries.TextAnalysis.nbFit(docs, train)
    val expected = graft.queries.TextAnalysis.nbScoreOf(docs, model)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(expected.size == docs.count())

    val rows = docs.as[(Long, String)].collect()
    val (b1, b2) = rows.splitAt(rows.length / 2)
    val in = MemoryStream[(Long, String)]
    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
    val q = Streams.nbClassify(in.toDF().toDF("doc_id", "text"), model) { (verdicts, _) =>
      got.synchronized {
        got ++= verdicts.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      }
      ()
    }.start()
    try {
      in.addData(b1.toIndexedSeq: _*); q.processAllAvailable()
      in.addData(b2.toIndexedSeq: _*); q.processAllAvailable()
    } finally q.stop()
    assert(got.toSet == expected,
      s"stream-only: ${got.toSet.diff(expected).take(3)}; batch-only: ${expected.diff(got.toSet).take(3)}")
    assert(got.size == expected.size, "a verdict was emitted twice across batches")
    // non-vacuous: more than one class is actually predicted
    assert(got.map(_._2).toSet.size > 1, "degenerate single-class predictions")
  }

  test("streaming attributes gate: micro-batched docs emit the one-shot batch annotations") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docs = spark.read.parquet(s"$sf/documents.parquet").select("doc_id", "lang", "text")
    val train = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id").as("doc_id"), col("label").cast("long").as("label"))
      .filter(org.apache.spark.sql.functions.substring(
        org.apache.spark.sql.functions.md5($"doc_id".cast("string")), 1, 1) < "8")
    // both models fit ONCE on the backfill; the stream applies them frozen
    val nb = graft.queries.TextAnalysis.nbFit(docs, train)
    val cc = graft.queries.TextAnalysis.ccnetFit(spark, sf)
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getBoolean(1), r.getString(2), r.getLong(3), r.getString(4), r.getBoolean(5))
    val expected = graft.queries.TextAnalysis.attributesOf(docs, nb, cc)
      .collect().map(key).toSet
    assert(expected.size == docs.count())

    val rows = docs.as[(Long, String, String)].collect()
    val (b1, b2) = rows.splitAt(rows.length / 2)
    val in = MemoryStream[(Long, String, String)]
    val got = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Boolean, String, Long, String, Boolean)]
    val q = Streams.attributesGate(in.toDF().toDF("doc_id", "lang", "text"), nb, cc) {
      (verdicts, _) => got.synchronized { got ++= verdicts.collect().map(key) }; ()
    }.start()
    try {
      in.addData(b1.toIndexedSeq: _*); q.processAllAvailable()
      in.addData(b2.toIndexedSeq: _*); q.processAllAvailable()
    } finally q.stop()
    assert(got.toSet == expected,
      s"stream-only: ${got.toSet.diff(expected).take(3)}; batch-only: ${expected.diff(got.toSet).take(3)}")
    assert(got.size == expected.size, "an annotation was emitted twice across batches")
    // non-vacuous: both keep verdicts and >1 bucket appear
    assert(got.map(_._6).toSet == Set(true, false))
    assert(got.map(_._3).toSet.size > 1)
  }

  test("streaming tokenization: micro-batched docs emit the one-shot batch ids; OOV maps to -1") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docs = spark.read.parquet(s"$sf/documents.parquet").select("doc_id", "text")
    val model = graft.queries.TextAnalysis.bpeFit(spark, sf, steps = 3)
    val expected = graft.queries.TextAnalysis.tokenizeOf(docs, model)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(expected.size == docs.count())

    val rows = docs.as[(Long, String)].collect()
    val (b1, b2) = rows.splitAt(rows.length / 2)
    val in = MemoryStream[(Long, String)]
    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, String)]
    val q = Streams.tokenize(in.toDF().toDF("doc_id", "text"), model) { (out, _) =>
      got.synchronized { got ++= out.collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))) }
      ()
    }.start()
    try {
      in.addData(b1.toIndexedSeq: _*); q.processAllAvailable()
      in.addData(b2.toIndexedSeq: _*); q.processAllAvailable()
    } finally q.stop()
    assert(got.toSet == expected, "stream and one-shot batch must tokenize identically")
    assert(got.size == expected.size, "a doc was tokenized twice across batches")
    // a word with a character the training vocab never saw: inline merge
    // application still decomposes it, unseen symbols map to -1
    val oov = graft.queries.TextAnalysis.tokenizeOf(
      Seq((999L, "zzz ###")).toDF("doc_id", "text"), model).collect().head
    assert(oov.getLong(1) >= 4L, "OOV words must still decompose into symbols")
    assert(oov.getString(2).split(" ").contains("-1"), "unseen symbols must map to -1")
  }

  test("streaming unigram tokenization: micro-batches emit the one-shot batch ids; OOV maps to -1") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docs = spark.read.parquet(s"$sf/documents.parquet").select("doc_id", "text")
    val model = graft.queries.Unigram.unigramFit(spark, sf)
    val expected = graft.queries.Unigram.tokenizeOf(docs, model)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(expected.size == docs.count())

    val rows = docs.as[(Long, String)].collect()
    val (b1, b2) = rows.splitAt(rows.length / 2)
    val in = MemoryStream[(Long, String)]
    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, String)]
    val q = Streams.unigramTokenize(in.toDF().toDF("doc_id", "text"), model) { (out, _) =>
      got.synchronized { got ++= out.collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))) }
      ()
    }.start()
    try {
      in.addData(b1.toIndexedSeq: _*); q.processAllAvailable()
      in.addData(b2.toIndexedSeq: _*); q.processAllAvailable()
    } finally q.stop()
    assert(got.toSet == expected, "stream and one-shot batch must tokenize identically")
    assert(got.size == expected.size, "a doc was tokenized twice across batches")
    // a character the training corpus never saw: the Viterbi DP's
    // no-candidate fallback still decomposes the word into single
    // chars, and the out-of-vocabulary piece maps to the -1 unk id
    val oov = graft.queries.Unigram.tokenizeOf(
      Seq((999L, "ßß")).toDF("doc_id", "text"), model).collect().head
    assert(oov.getLong(1) == 2L, "unseen chars must decompose to single-char pieces")
    assert(oov.getString(2) == "-1 -1", "unseen pieces must map to -1")
  }

  test("streaming wordpiece tokenization: micro-batches emit the one-shot batch ids; unk fails the word") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docs = spark.read.parquet(s"$sf/documents.parquet").select("doc_id", "text")
    val model = graft.queries.Wordpiece.wordpieceFit(spark, sf)
    val expected = graft.queries.Wordpiece.tokenizeOf(docs, model)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(expected.size == docs.count())

    val rows = docs.as[(Long, String)].collect()
    val (b1, b2) = rows.splitAt(rows.length / 2)
    val in = MemoryStream[(Long, String)]
    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, String)]
    val q = Streams.wordpieceTokenize(in.toDF().toDF("doc_id", "text"), model) { (out, _) =>
      got.synchronized { got ++= out.collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))) }
      ()
    }.start()
    try {
      in.addData(b1.toIndexedSeq: _*); q.processAllAvailable()
      in.addData(b2.toIndexedSeq: _*); q.processAllAvailable()
    } finally q.stop()
    assert(got.toSet == expected, "stream and one-shot batch must tokenize identically")
    assert(got.size == expected.size, "a doc was tokenized twice across batches")
    // real-WordPiece unk: a word with an unmatchable position collapses
    // to ONE [UNK] (-1) — not per-symbol decomposition
    val oov = graft.queries.Wordpiece.tokenizeOf(
      Seq((999L, "ßß table")).toDF("doc_id", "text"), model).collect().head
    val ids = oov.getString(2).split(" ")
    assert(ids.head == "-1" && ids.count(_ == "-1") == 1,
      s"an unmatchable word must be exactly one [UNK]: ${ids.toSeq}")
  }

  test("incremental dedup: streamed micro-batches emit the backfill's verdicts") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val idx = java.nio.file.Files.createTempDirectory("graft-mhidx-stream").toString
    graft.queries.Dedup.writeMinhashIndex(spark, sf, idx, col("doc_id") < 400)
    // one-shot backfill over every new doc = the expected verdict set
    val expected = graft.queries.Dedup
      .incrementalDupsAgainstIndex(spark, sf, idx, col("doc_id") >= 400)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    assert(expected.nonEmpty, "no cross-boundary dups — equivalence gate is vacuous")

    val newDocs = spark.read.parquet(s"$sf/documents.parquet")
      .filter(col("doc_id") >= 400).select("doc_id", "text")
      .as[(Long, String)].collect()
    val (b1, b2) = newDocs.splitAt(newDocs.length / 2)
    assert(b1.nonEmpty && b2.nonEmpty, "need two non-trivial micro-batches")
    val in = MemoryStream[(Long, String)]
    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Double)]
    val q = Streams.incrementalDedup(in.toDF().toDF("doc_id", "text"), idx) {
      (verdicts, _) =>
        got.synchronized {
          got ++= verdicts.collect().map(r =>
            (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
        }
        ()
    }.start()
    try {
      in.addData(b1.toIndexedSeq: _*); q.processAllAvailable()
      in.addData(b2.toIndexedSeq: _*); q.processAllAvailable()
    } finally q.stop()
    assert(got.toSet == expected,
      s"stream-only: ${got.toSet.diff(expected)}; backfill-only: ${expected.diff(got.toSet)}")
  }

  test("streaming substring rewrite with fold-in == the same increments applied sequentially") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // two fresh indexes from the same history so stream and sequential
    // paths evolve independently
    for (t <- Seq("st_sub_grams", "sq_sub_grams")) spark.sql(s"DROP TABLE IF EXISTS $t")
    graft.queries.Dedup.writeGramIndex(spark, sf, "st_sub", docFilter = col("doc_id") < 400)
    graft.queries.Dedup.writeGramIndex(spark, sf, "sq_sub", docFilter = col("doc_id") < 400)
    val newDocs = spark.read.parquet(s"$sf/documents.parquet")
      .filter(col("doc_id") >= 400).select("doc_id", "text")
      .as[(Long, String)].collect()
    val (b1, b2) = newDocs.splitAt(newDocs.length / 2)
    // sequential reference: rewrite b1, fold b1 in, rewrite b2
    def seqRewrite(batch: Seq[(Long, String)]) = {
      val df = batch.toDF("doc_id", "text")
      val out = graft.queries.Dedup.rewriteAgainstGramIndex(df, "sq_sub")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
      graft.queries.Dedup.appendGramIndex(df, "sq_sub")
      out
    }
    val expected = (seqRewrite(b1.toIndexedSeq) ++ seqRewrite(b2.toIndexedSeq)).toSet
    val in = MemoryStream[(Long, String)]
    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, String)]
    val q = Streams.substringRewrite(in.toDF().toDF("doc_id", "text"), "st_sub",
      foldIn = true) { (out, _) =>
      got.synchronized {
        got ++= out.collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
      }
      ()
    }.start()
    try {
      in.addData(b1.toIndexedSeq: _*); q.processAllAvailable()
      in.addData(b2.toIndexedSeq: _*); q.processAllAvailable()
    } finally q.stop()
    assert(got.toSet == expected,
      s"stream-only: ${got.toSet.diff(expected).take(3)}; seq-only: ${expected.diff(got.toSet).take(3)}")
    assert(got.exists(_._2 > 0), "vacuous: stream removed nothing")
    for (t <- Seq("st_sub_grams", "sq_sub_grams")) spark.sql(s"DROP TABLE IF EXISTS $t")
  }

  test("maintained substring rewrite: sequential-equal verdicts, compaction fires, stack bounded") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val warehouse = new java.net.URI(spark.conf.get("spark.sql.warehouse.dir")).getPath
    for (t <- Seq("smg_grams", "smgq_grams")) {
      spark.sql(s"DROP TABLE IF EXISTS $t")
      org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(warehouse, t))
    }
    graft.queries.Dedup.writeGramIndex(spark, sf, "smg", docFilter = col("doc_id") < 200)
    graft.queries.Dedup.writeGramIndex(spark, sf, "smgq", docFilter = col("doc_id") < 200)
    val newDocs = spark.read.parquet(s"$sf/documents.parquet")
      .filter(col("doc_id") >= 200).select("doc_id", "text")
      .as[(Long, String)].collect().sortBy(_._1)
    val batches = newDocs.grouped(math.max(1, newDocs.length / 3)).toSeq
    // sequential reference on the twin index — rewrite then fold, per
    // batch (compaction changes FILES only, so the reference needs none)
    def seqRewrite(batch: Seq[(Long, String)]) = {
      val df = batch.toDF("doc_id", "text")
      val out = graft.queries.Dedup.rewriteAgainstGramIndex(df, "smgq")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
      graft.queries.Dedup.appendGramIndex(df, "smgq")
      out
    }
    val expected = batches.flatMap(b => seqRewrite(b.toIndexedSeq)).toSet
    val in = MemoryStream[(Long, String)]
    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, String)]
    val compactions = scala.collection.mutable.ArrayBuffer.empty[Boolean]
    val q = Streams.substringRewriteMaintained(
        in.toDF().toDF("doc_id", "text"), "smg", maxGroups = 1.5) {
      (out, _, compacted) =>
        got.synchronized {
          got ++= out.collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
        }
        compactions.synchronized { compactions += compacted }
        ()
    }.start()
    try {
      for (b <- batches) { in.addData(b.toIndexedSeq: _*); q.processAllAvailable() }
    } finally q.stop()
    assert(got.toSet == expected,
      s"stream-only: ${got.toSet.diff(expected).take(3)}; seq-only: ${expected.diff(got.toSet).take(3)}")
    assert(got.exists(_._2 > 0), "vacuous: stream removed nothing")
    assert(compactions.count(identity) >= 1,
      s"the audit must have triggered a mid-stream compaction: $compactions")
    val audit = graft.Engine.bucketFileAudit(spark, "smg_grams", maxGroups = 1.5).head()
    assert(audit.getLong(3) <= 2, s"file hygiene not maintained: $audit")
    for (t <- Seq("smg_grams", "smgq_grams")) spark.sql(s"DROP TABLE IF EXISTS $t")
  }

  test("streaming gopher gate passes exactly the batch battery's passing docs across a split") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val sf = "/root/testdata/sf0.001"
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").as[(Long, String)].collect().toSeq
    val (b1, b2) = docs.splitAt(docs.size / 2)
    val in = MemoryStream[(Long, String)]
    val q = Streams.gopherGate(in.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("gopher_out")
      .outputMode(OutputMode.Append()).start()
    try {
      in.addData(b1: _*); q.processAllAvailable()
      in.addData(b2: _*); q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("gopher_out").collect().map(_.getLong(0)).toSet
    val batch = graft.queries.TextAnalysis.queries("x_text_gopher")(spark, sf)
      .filter($"pass").collect().map(_.getLong(0)).toSet
    assert(streamed == batch,
      s"stream-only: ${streamed.diff(batch)}; batch-only: ${batch.diff(streamed)}")
    assert(streamed.nonEmpty && streamed.size < docs.size, "gate must be non-vacuous")
  }

  test("streaming repetition gate passes exactly the batch battery's passing docs") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val sf = "/root/testdata/sf0.001"
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").as[(Long, String)].collect().toSeq
    // a crafted repetitive doc rides along so the gate DROPS something
    // (the natural corpus may clear the whole battery)
    val spammy = (-1L, Seq.fill(30)("click here").mkString(" "))
    val (b1, b2) = (spammy +: docs).splitAt(docs.size / 2)
    val in = MemoryStream[(Long, String)]
    val q = Streams.gopherRepGate(in.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("gopher_rep_out")
      .outputMode(OutputMode.Append()).start()
    try {
      in.addData(b1: _*); q.processAllAvailable()
      in.addData(b2: _*); q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("gopher_rep_out").collect().map(_.getLong(0)).toSet
    val batch = graft.queries.TextAnalysis.gopherRepetition(
        (spammy +: docs).toDF("doc_id", "text"))
      .filter($"pass").collect().map(_.getLong(0)).toSet
    assert(streamed == batch,
      s"stream-only: ${streamed.diff(batch)}; batch-only: ${batch.diff(streamed)}")
    assert(!streamed.contains(-1L), "the crafted repetitive doc must be dropped")
    assert(streamed.nonEmpty, "gate must pass something")
  }
}
