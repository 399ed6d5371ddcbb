package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import graft.core.SparkTestBase
import EventStream.{Event, Session}

class EventStreamSpec extends SparkTestBase {
  import spark.implicits._

  private val Min = 60L * 1000000L // one minute in µs

  test("streaming rolling WAU: finalized sliding windows equal the batch plan and the trailing-count model") {
    implicit val sqlCtx = spark.sqlContext
    val Day = 86400L * 1000000L
    // users across four days, with a same-day re-visit (must count once
    // per window) and out-of-order arrival within the watermark
    val core = Seq(
      (1L, 10 * Day + 5 * Min), (2L, 10 * Day + 9 * Min),
      (1L, 10 * Day + 700 * Min), // user 1 again, same day
      (2L, 12 * Day + Min), (3L, 12 * Day + 2 * Min),
      (4L, 13 * Day + Min),
      (3L, 11 * Day + Min)) // out-of-order: arrives after day-12 rows
    def proj(df: org.apache.spark.sql.DataFrame) = df
      .selectExpr("CAST(window.start AS LONG) DIV 86400 AS wstart_day", "wau")
    // batch: the IDENTICAL function over a static frame
    val batch = proj(EventStream.streamingWau(core.toDF("userId", "tsUs")))
      .as[(Long, Long)].collect().toSet
    val input = MemoryStream[(Long, Long)]
    val q = EventStream.streamingWau(input.toDF().toDF("userId", "tsUs"))
      .writeStream.format("memory").queryName("wau_eq")
      .outputMode(OutputMode.Append).start()
    val streamed = try {
      input.addData(core.take(5): _*); q.processAllAvailable()
      input.addData(core.drop(5): _*); q.processAllAvailable()
      // ticks push the watermark past every core window end (≤ day 20)
      input.addData((99L, 28 * Day)); q.processAllAvailable()
      input.addData((98L, 29 * Day)); q.processAllAvailable()
      proj(spark.table("wau_eq")).as[(Long, Long)].collect().toSet
    } finally q.stop()
    assert(streamed == batch, s"stream/batch drift: streamed=$streamed batch=$batch")
    // trailing-count model (q70's contract): window starting day 7
    // covers days 7..13 -> users {1,2,3,4}
    assert(batch.contains((7L, 4L)))
    // window starting day 6 covers days 6..12 -> users {1,2,3}
    assert(batch.contains((6L, 3L)))
  }

  test("streaming OLS trend: finalized running fit matches the closed form, out of order") {
    implicit val sqlCtx = spark.sqlContext
    val HourUs = 3600L * 1000000L
    val input = MemoryStream[EventStream.RateEvent]
    val q = EventStream.streamingTrend(spark, input.toDS())
      .writeStream.format("memory").queryName("trend_eq")
      .outputMode(OutputMode.Append).start()
    try {
      // "click": hours 10..15 carry exactly 5,7,9,11,13,15 events — a
      // perfect slope-2 line; "view": flat 4,4,4 at hours 10..12.
      // Events arrive out of order across batches (hour 11 after 13).
      def burst(tpe: String, hr: Long, n: Int) =
        (0 until n).map(i => EventStream.RateEvent(tpe, hr * HourUs + i * 1000L))
      input.addData(burst("click", 10, 5) ++ burst("click", 13, 11) ++
        burst("view", 10, 4): _*)
      input.addData(burst("click", 11, 7) ++ burst("click", 12, 9) ++
        burst("view", 11, 4) ++ burst("view", 12, 4) ++
        burst("click", 14, 13) ++ burst("click", 15, 15): _*)
      q.processAllAvailable()
      input.addData(EventStream.RateEvent("tick", 30 * HourUs))
      q.processAllAvailable()
      input.addData(EventStream.RateEvent("tick", 40 * HourUs))
      q.processAllAvailable()
      val got = spark.table("trend_eq").as[EventStream.TrendPoint].collect()
      val click = got.filter(_.eventType == "click").sortBy(_.hr)
      // running fit: every emission from the 2nd point on sees a
      // perfect line -> slope exactly 2000 permille, forecast = next y
      assert(click.map(_.hr).toSeq == (11L to 15L),
        s"click emissions: ${click.toSeq}")
      click.foreach { p =>
        assert(p.slopePermille == 2000L, s"$p")
        assert(p.forecastNext == 5 + 2 * (p.hr - 9), s"$p") // y(x+1)
      }
      val view = got.filter(_.eventType == "view").sortBy(_.hr)
      assert(view.map(p => (p.hr, p.slopePermille, p.forecastNext)).toSeq ==
        Seq((11L, 0L, 4L), (12L, 0L, 4L)), s"view: ${view.toSeq}")
    } finally q.stop()
  }

  test("streaming CMS cells equal the batch sketch over the same corpus") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.{col, explode, length, max}
    val input = MemoryStream[(Long, String)]
    val cells = EventStream.streamingCmsCells(
      input.toDF().toDF("docId", "text"), bases = Seq(31, 37), w = 64)
    val q = cells.writeStream.format("memory").queryName("cms")
      .outputMode(OutputMode.Update).start()
    val batch1 = Seq((1L, "apple banana apple"), (2L, "cherry apple"))
    val batch2 = Seq((3L, "banana banana date"), (4L, "apple"))
    try {
      input.addData(batch1: _*)
      q.processAllAvailable()
      input.addData(batch2: _*)
      q.processAllAvailable()
      // Update sink logs every cell revision; the final value per cell
      // is the max (counts only grow)
      val streamed = spark.table("cms").groupBy("r", "bucket")
        .agg(max("c").as("c"))
        .as[(Int, Long, Long)].collect().toSet
      val batchTerms = (batch1 ++ batch2).toDF("docId", "text")
        .select(explode(graft.operators.TextOps.words(col("text"))).as("term"))
        .filter(length(col("term")) > 0)
      val expected = graft.operators.SketchState
        .cmsCells(batchTerms, "term", Seq(31, 37), 64)
        .as[(Int, Long, Long)].collect().toSet
      assert(streamed == expected, s"streamed $streamed vs batch $expected")
    } finally q.stop()
  }

  test("streaming session trigrams: out-of-order delivery, finalized trigrams equal the batch windows") {
    implicit val sqlCtx = spark.sqlContext
    import EventStream.{TrigEvent, TrigramHit}
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    val input = MemoryStream[TrigEvent]
    val out = EventStream.streamingSessionTrigrams(spark, input.toDS(),
      gapUs = 30 * Min, watermarkDelay = "10 minutes")
    val q = out.writeStream.format("memory").queryName("trig")
      .outputMode(OutputMode.Append).start()
    try {
      val T0 = 86400L * 1000000L
      // user 1: a 4-event session (-> 2 trigrams) whose MIDDLE event is
      // delivered a batch late but inside the watermark; then a 36-min
      // gap opens a new 3-event session (-> 1 trigram; none spans the
      // break)
      input.addData(
        TrigEvent(1L, T0 + Min, 1L, "view"),
        TrigEvent(1L, T0 + 3 * Min, 3L, "purchase"),
        TrigEvent(1L, T0 + 4 * Min, 4L, "error"))
      q.processAllAvailable()
      input.addData(
        TrigEvent(1L, T0 + 2 * Min, 2L, "click"), // the late middle event
        TrigEvent(1L, T0 + 40 * Min, 5L, "signup"),
        TrigEvent(1L, T0 + 41 * Min, 6L, "view"),
        TrigEvent(1L, T0 + 42 * Min, 7L, "click"))
      q.processAllAvailable()
      // two watermark advances: the first sets it, the second folds
      input.addData(TrigEvent(99L, T0 + 300 * Min, 99L, "view"))
      q.processAllAvailable()
      input.addData(TrigEvent(99L, T0 + 600 * Min, 100L, "view"))
      q.processAllAvailable()
      val got = spark.table("trig").as[TrigramHit].collect()
        .map(h => (h.userId, h.e1, h.e2, h.e3, h.tsUs)).toSet
      assert(got == Set(
        (1L, "view", "click", "purchase", T0 + 3 * Min),
        (1L, "click", "purchase", "error", T0 + 4 * Min),
        (1L, "signup", "view", "click", T0 + 42 * Min)), s"got $got")
      // batch twin: q106's window derivation over the SAME fixture
      val ev = Seq(
        (1L, T0 + Min, 1L, "view"), (1L, T0 + 2 * Min, 2L, "click"),
        (1L, T0 + 3 * Min, 3L, "purchase"), (1L, T0 + 4 * Min, 4L, "error"),
        (1L, T0 + 40 * Min, 5L, "signup"), (1L, T0 + 41 * Min, 6L, "view"),
        (1L, T0 + 42 * Min, 7L, "click"),
        (99L, T0 + 300 * Min, 99L, "view"), (99L, T0 + 600 * Min, 100L, "view"))
        .toDF("user_id", "t_us", "event_id", "event_type")
      val wOrd = Window.partitionBy("user_id").orderBy("t_us", "event_id")
      val sess = ev
        .withColumn("prev_t", lag("t_us", 1).over(wOrd))
        .withColumn("new_sess", when(col("prev_t").isNull ||
          col("t_us") - col("prev_t") > 30 * Min, 1L).otherwise(0L))
        .withColumn("sid", sum("new_sess").over(
          wOrd.rowsBetween(Window.unboundedPreceding, 0)))
      val wS = Window.partitionBy("user_id", "sid").orderBy("t_us", "event_id")
      val batch = sess
        .withColumn("e2", lead("event_type", 1).over(wS))
        .withColumn("e3", lead("event_type", 2).over(wS))
        .withColumn("t3", lead("t_us", 2).over(wS))
        .filter(col("e2").isNotNull && col("e3").isNotNull)
        .select(col("user_id"), col("event_type"), col("e2"), col("e3"), col("t3"))
        .as[(Long, String, String, String, Long)].collect().toSet
      assert(batch == got, s"stream $got != batch $batch")
    } finally q.stop()
  }

  test("streaming funnel: out-of-order delivery, finalized completions equal the batch plan") {
    implicit val sqlCtx = spark.sqlContext
    import EventStream.{TypedEvent, FunnelDone}
    val input = MemoryStream[TypedEvent]
    val out = EventStream.streamingFunnel(spark, input.toDS(),
      Seq("view", "click", "purchase"), watermarkDelay = "10 minutes")
    val q = out.writeStream.format("memory").queryName("funnel")
      .outputMode(OutputMode.Append).start()
    try {
      val T0 = 86400L * 1000000L
      // user 1 converts; its CLICK is delivered out of order (after the
      // purchase) but within the watermark — buffering must restore
      // event-time order. user 2 has purchase BEFORE click: no
      // conversion. user 3 never purchases.
      input.addData(
        TypedEvent(1L, T0 + Min, "view"),
        TypedEvent(1L, T0 + 5 * Min, "purchase"),
        TypedEvent(2L, T0 + Min, "purchase"),
        TypedEvent(2L, T0 + 2 * Min, "view"),
        TypedEvent(3L, T0 + Min, "view"), TypedEvent(3L, T0 + 2 * Min, "click"))
      q.processAllAvailable()
      input.addData(TypedEvent(1L, T0 + 3 * Min, "click"),
        TypedEvent(2L, T0 + 3 * Min, "click"))
      q.processAllAvailable()
      // advance the watermark far past every event so buffers finalize
      input.addData(TypedEvent(99L, T0 + 120 * Min, "view"))
      q.processAllAvailable()
      input.addData(TypedEvent(99L, T0 + 240 * Min, "view"))
      q.processAllAvailable()
      val got = spark.table("funnel").as[FunnelDone].collect()
        .map(f => f.userId -> f.stageTimes).toMap
      // only user 1 converts: view@+1, click@+3 (late-delivered), purchase@+5
      assert(got == Map(1L -> Seq(T0 + Min, T0 + 3 * Min, T0 + 5 * Min)), s"got $got")
      // batch twin agrees on the SAME fixture (completed users only)
      val ev = Seq(
        (1L, "view", T0 + Min, 1L), (1L, "purchase", T0 + 5 * Min, 2L),
        (2L, "purchase", T0 + Min, 3L), (2L, "view", T0 + 2 * Min, 4L),
        (3L, "view", T0 + Min, 5L), (3L, "click", T0 + 2 * Min, 6L),
        (1L, "click", T0 + 3 * Min, 7L), (2L, "click", T0 + 3 * Min, 8L),
        (99L, "view", T0 + 120 * Min, 9L), (99L, "view", T0 + 240 * Min, 10L))
        .toDF("user_id", "event_type", "t", "eid")
      val batch = graft.operators.Funnel.stageTimes(ev, "user_id", "event_type",
          "t", "eid", Seq("view", "click", "purchase"))
        .filter(org.apache.spark.sql.functions.col("s3").isNotNull)
        .as[(Long, Long, Long, Long)].collect()
        .map(r => r._1 -> Seq(r._2, r._3, r._4)).toMap
      assert(batch == got, s"batch $batch vs streaming $got")
    } finally q.stop()
  }

  test("sessionize closes a session when the gap is exceeded") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val sessions = EventStream.sessionize(spark, input.toDS(), gapUs = 30 * Min)
    val q = sessions.writeStream.format("memory").queryName("sess")
      .outputMode(OutputMode.Append).start()
    try {
      // one user: 3 events close together, then a 2h jump. The first
      // session closes once the WATERMARK passes its end + gap (event
      // time 130min - 30min delay = 100min > 10min + 30min), not
      // eagerly on arrival — eager closing breaks under late data.
      val T0 = 86400L * 1000000L
      input.addData(Event(1L, T0, 10L), Event(1L, T0 + 5 * Min, 20L), Event(1L, T0 + 10 * Min, 30L))
      q.processAllAvailable()
      input.addData(Event(1L, T0 + 130 * Min, 40L))
      q.processAllAvailable()
      val out = spark.table("sess").as[Session].collect()
      assert(out.toSeq == Seq(Session(1L, T0, T0 + 10 * Min, 3L, 60L)))
    } finally q.stop()
  }

  test("late events open their own earlier session and MERGE with each other") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val sessions = EventStream.sessionize(spark, input.toDS(), gapUs = 30 * Min,
      watermarkDelay = "6 hours")
    val q = sessions.writeStream.format("memory").queryName("late_sess")
      .outputMode(OutputMode.Append).start()
    try {
      val T0 = 86400L * 1000000L
      input.addData(Event(1L, T0 + 180 * Min, 10L)) // open session at +3h
      q.processAllAvailable()
      // TWO late events 1 min apart, 3h before the open session: they
      // must merge into ONE earlier session, not fragment
      input.addData(Event(1L, T0, 99L), Event(1L, T0 + Min, 1L))
      q.processAllAvailable()
      // push the watermark past the late session's end + gap
      // (wm lags one batch, so push then tick once more)
      input.addData(Event(1L, T0 + 400 * Min, 5L))
      q.processAllAvailable()
      val out = spark.table("late_sess").as[Session].collect().toSeq
      assert(out == Seq(Session(1L, T0, T0 + Min, 2L, 100L)), s"got $out")
    } finally q.stop()
  }

  test("late siblings in DIFFERENT batches merge; below-watermark input is dropped") {
    // The no-fragmentation argument, pinned: (a) a session stays open
    // while wm <= end+gap, so an above-wm sibling arriving batches
    // later still merges; (b) Spark drops FMGWS input below the
    // watermark, so once wm passes end+gap no mergeable sibling can
    // arrive — two late events can therefore never fragment into
    // separate singleton sessions.
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val sessions = EventStream.sessionize(spark, input.toDS(), gapUs = 30 * Min,
      watermarkDelay = "6 hours")
    val q = sessions.writeStream.format("memory").queryName("late_sib")
      .outputMode(OutputMode.Append).start()
    try {
      val T0 = 86400L * 1000000L
      // advance the watermark: wm = 600min - 360min = 240min
      input.addData(Event(1L, T0 + 600 * Min, 5L))
      q.processAllAvailable()
      // (b) input BELOW the watermark never reaches the operator
      input.addData(Event(1L, T0, 99L))
      q.processAllAvailable()
      // (a) late-but-above-wm event at 250min: session (250,250) stays
      // open (end+gap = 280min > wm = 240min)
      input.addData(Event(1L, T0 + 250 * Min, 10L))
      q.processAllAvailable()
      assert(spark.table("late_sib").isEmpty,
        "open late session must not emit eagerly")
      // sibling in the NEXT batch, within the gap: merges
      input.addData(Event(1L, T0 + 251 * Min, 20L))
      q.processAllAvailable()
      // advance wm past 281min so the merged session closes
      // (wm lags one batch: push, then tick)
      input.addData(Event(1L, T0 + 700 * Min, 7L))
      q.processAllAvailable()
      input.addData(Event(1L, T0 + 710 * Min, 7L))
      q.processAllAvailable()
      val out = spark.table("late_sib").as[Session].collect().toSeq
      // ONE merged late session; the dropped below-wm event appears
      // nowhere; the 600/700/710min sessions are still open
      assert(out == Seq(Session(1L, T0 + 250 * Min, T0 + 251 * Min, 2L, 30L)), s"got $out")
    } finally q.stop()
  }

  test("interval join honors sub-second windows (no truncation)") {
    implicit val sqlCtx = spark.sqlContext
    val actions = MemoryStream[(Long, Long, Long)]
    val purchases = MemoryStream[(Long, Long, Long)]
    val joined = EventStream.intervalJoin(
      actions.toDF().toDF("userId", "tsUs", "valueC"),
      purchases.toDF().toDF("userId", "tsUs", "valueC"),
      windowUs = 500000L) // 0.5 s
    val q = joined.writeStream.format("memory").queryName("subsec")
      .outputMode(OutputMode.Append).start()
    try {
      val T0 = 86400L * 1000000L
      purchases.addData((1L, T0 - 400000L, 1L), (1L, T0 - 900000L, 2L))
      actions.addData((1L, T0, 0L))
      q.processAllAvailable()
      val vals = spark.table("subsec").selectExpr("r_value").as[Long].collect().toSet
      assert(vals == Set(1L), s"0.4s-ago must match, 0.9s-ago must not: $vals")
    } finally q.stop()
  }

  test("stream-stream interval join matches within the trailing window only") {
    implicit val sqlCtx = spark.sqlContext
    val actions = MemoryStream[(Long, Long, Long)]   // (userId, tsUs, valueC)
    val purchases = MemoryStream[(Long, Long, Long)]
    val joined = EventStream.intervalJoin(
      actions.toDF().toDF("userId", "tsUs", "valueC"),
      purchases.toDF().toDF("userId", "tsUs", "valueC"),
      windowUs = 30 * Min)
    val q = joined.writeStream.format("memory").queryName("ij")
      .outputMode(OutputMode.Append).start()
    try {
      val T0 = 86400L * 1000000L
      purchases.addData((1L, T0 - 60 * Min, 111L), (1L, T0 + 5 * Min, 222L), (2L, T0 + 6 * Min, 333L))
      actions.addData((1L, T0 + 10 * Min, 1L))
      q.processAllAvailable()
      val matches = spark.table("ij").selectExpr("l_user", "r_value")
        .as[(Long, Long)].collect().toSet
      // only the same-user purchase inside [lts-30min, lts] matches
      assert(matches == Set((1L, 222L)))
    } finally q.stop()
  }

  test("stream-static join enriches events against a dimension table") {
    // the everyday pipeline shape: unbounded stream broadcast-joined
    // to a small static dimension — no state, no watermark needed
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.broadcast
    val input = MemoryStream[Event]
    val dim = Seq((1L, "gold"), (2L, "basic")).toDF("userId", "segment")
    val joined = input.toDF().join(broadcast(dim), Seq("userId"), "left")
    val q = joined.writeStream.format("memory").queryName("enrich")
      .outputMode(OutputMode.Append).start()
    try {
      val T0 = 86400L * 1000000L
      input.addData(Event(1L, T0, 10L), Event(2L, T0 + Min, 20L), Event(9L, T0 + 2 * Min, 30L))
      q.processAllAvailable()
      val rows = spark.table("enrich").selectExpr("userId", "segment")
        .as[(Long, Option[String])].collect().toSet
      assert(rows == Set((1L, Some("gold")), (2L, Some("basic")), (9L, None)))
    } finally q.stop()
  }

  test("streaming dedup drops duplicate ids within the watermark") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Long, Long)] // (eventId, tsUs, valueC)
    val deduped = EventStream.streamingDedup(
      input.toDF().toDF("eventId", "tsUs", "valueC"), "eventId")
    val q = deduped.writeStream.format("memory").queryName("dd")
      .outputMode(OutputMode.Append).start()
    try {
      val T0 = 86400L * 1000000L
      input.addData((1L, T0, 10L), (2L, T0 + Min, 20L), (1L, T0 + 2 * Min, 99L))
      q.processAllAvailable()
      input.addData((2L, T0 + 3 * Min, 99L), (3L, T0 + 4 * Min, 30L))
      q.processAllAvailable()
      val ids = spark.table("dd").selectExpr("eventId").as[Long].collect().sorted.toSeq
      assert(ids == Seq(1L, 2L, 3L)) // duplicates of 1 and 2 dropped
    } finally q.stop()
  }

  test("sessionizer custom state survives a checkpoint restart") {
    // flatMapGroupsWithState recovery: an OPEN session accumulated
    // before the stop must close correctly after the restart — the
    // emitted session spans pre-restart events, which is only possible
    // if the custom SessionState was recovered from the state store.
    implicit val sqlCtx = spark.sqlContext
    val ckpt = java.nio.file.Files.createTempDirectory("graft_sess_ckpt")
      .toFile.getAbsolutePath
    val input = MemoryStream[Event]
    val sessions = EventStream.sessionize(spark, input.toDS(), gapUs = 30 * Min)
    val out = new scala.collection.mutable.ArrayBuffer[Session]
    def start() = sessions.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", ckpt)
      .foreachBatch { (ds: org.apache.spark.sql.Dataset[Session], _: Long) =>
        val ss = ds.collect()
        out.synchronized { out ++= ss }
        ()
      }.start()
    val T0 = 86400L * 1000000L
    val q1 = start()
    try {
      input.addData(Event(1L, T0, 10L), Event(1L, T0 + 5 * Min, 20L))
      q1.processAllAvailable() // session still open — nothing emitted
    } finally q1.stop()
    assert(out.synchronized(out.isEmpty))
    val q2 = start()
    try {
      // one more event extends the RECOVERED session, then a far jump
      // pushes the watermark past its close
      input.addData(Event(1L, T0 + 10 * Min, 30L))
      q2.processAllAvailable()
      input.addData(Event(1L, T0 + 130 * Min, 40L))
      q2.processAllAvailable()
    } finally q2.stop()
    assert(out.synchronized(out.toSeq) ==
      Seq(Session(1L, T0, T0 + 10 * Min, 3L, 60L)))
  }

  test("streaming CDC compaction converges to the batch max(struct) state, in any arrival order") {
    implicit val sqlCtx = spark.sqlContext
    import EventStream.{CdcEvent, CdcRow}
    val fixture = Seq(
      CdcEvent(1L, 100L, 1L, "U", 10L),
      CdcEvent(1L, 300L, 3L, "U", 30L), // final winner for user 1
      CdcEvent(2L, 100L, 2L, "U", 20L),
      CdcEvent(2L, 200L, 4L, "D", 0L), // tombstone
      CdcEvent(3L, 500L, 5L, "U", 55L))
    val late = Seq(
      CdcEvent(1L, 200L, 6L, "U", 99L), // late upsert, loses to ts 300
      CdcEvent(2L, 150L, 7L, "U", 77L), // late after tombstone: still loses
      CdcEvent(3L, 500L, 8L, "U", 66L)) // same ts, higher eventId wins
    // batch twin: q80's exact rule — max(struct(ts, id, op, val)) +
    // count, tombstones surfaced (q80 filters them; the stream retains)
    val batch = (fixture ++ late).toDS()
      .groupByKey(_.userId)
      .mapGroups { (uid, it) =>
        val rows = it.toSeq
        val w = rows.maxBy(e => (e.tsUs, e.eventId))
        CdcRow(uid, w.tsUs, w.valueC, rows.size.toLong, w.op == "D")
      }.collect().toSet
    def run(name: String, batches: Seq[Seq[CdcEvent]]): Set[CdcRow] = {
      val input = MemoryStream[CdcEvent]
      val q = EventStream.streamingCompaction(spark, input.toDS())
        .writeStream.format("memory").queryName(name)
        .outputMode(OutputMode.Update).start()
      try {
        batches.foreach { b => input.addData(b: _*); q.processAllAvailable() }
        // Update mode emits per micro-batch; nVersions is monotone, so
        // the max-nVersions emission per key IS the converged state
        spark.table(name).as[CdcRow].collect()
          .groupBy(_.userId).map(_._2.maxBy(_.nVersions)).toSet
      } finally q.stop()
    }
    val streamed = run("cdc_eq", Seq(fixture, late))
    assert(streamed == batch, s"stream/batch drift: $streamed vs $batch")
    // the fold is commutative: reversed arrival converges identically
    val reversed = run("cdc_eq_rev", Seq(late.reverse, fixture.reverse))
    assert(reversed == batch, s"arrival-order drift: $reversed vs $batch")
    assert(batch.exists(r => r.userId == 2L && r.deleted && r.nVersions == 3L))
  }

  test("streaming mixture sample converges to the batch selection, any arrival order") {
    implicit val sqlCtx = spark.sqlContext
    import EventStream.{SampleDoc, SampleRow}
    import org.apache.spark.sql.functions._
    val docs = (1L to 40L).map(i => SampleDoc(s"src${i % 3}", i * 7 + 1))
    val budget = (src: String) => 3 + src.stripPrefix("src").toInt // 3..5
    // batch expectation through the SQL chain t45 uses — also pins the
    // JVM sampleHash replica bit-identical to poly_hash + scramble
    val expected = docs.toDF("source", "docId")
      .select(col("source"), col("docId"),
        graft.functions.KMinAgg.scramble(graft.functions.PolyHash.col(
          col("docId").cast("string"))).as("h"))
      .as[(String, Long, Long)].collect()
      .groupBy(_._1).flatMap { case (src, rs) =>
        rs.sortBy(r => (r._3, r._2)).take(budget(src)).zipWithIndex
          .map { case (r, i) => SampleRow(src, i + 1L, r._2, rs.size.toLong) }
          .toSeq
      }.toSet
    def run(name: String, batches: Seq[Seq[SampleDoc]]): Set[SampleRow] = {
      val input = MemoryStream[SampleDoc]
      val q = EventStream.streamingMixtureSample(spark, input.toDS(), budget)
        .writeStream.format("memory").queryName(name)
        .outputMode(OutputMode.Update).start()
      try {
        batches.foreach { b => input.addData(b: _*); q.processAllAvailable() }
        // Update mode re-emits per touched source; nSeen is the
        // monotone version marker, so max-nSeen per (source, rank) is
        // the converged selection regardless of sink row order
        spark.table(name).as[SampleRow].collect()
          .groupBy(r => (r.source, r.rank))
          .map(_._2.maxBy(_.nSeen)).toSet
      } finally q.stop()
    }
    val a = run("mix_a", Seq(docs.take(25), docs.drop(25)))
    assert(a == expected, s"stream/batch drift: $a vs $expected")
    val b = run("mix_b", Seq(docs.reverse.take(10), docs.reverse.drop(10)))
    assert(b == expected, s"arrival-order drift: $b vs $expected")
  }

  test("streaming rolling quantiles equal the q102 rule, any arrival order") {
    implicit val sqlCtx = spark.sqlContext
    import EventStream.{HistEvent, QuantRow}
    val DayUs = 86400L * 1000000L
    // three real days (102, 104, 109) with repeated values; 104 sits in
    // 102's trailing feed, 109 is isolated (window break); day 103
    // never occurs -> must NOT emit despite receiving feeds from 102
    val events =
      Seq(5L, 17L, 5L, 90L, 33L).map(v => HistEvent(102L * DayUs + v, v)) ++
        Seq(40L, 8L, 8L, 71L).map(v => HistEvent(104L * DayUs + 1000L + v, v)) ++
        Seq(12L, 60L).map(v => HistEvent(109L * DayUs + v, v))
    // batch twin: q102's exact histogram-cumulative rule over each real
    // day's trailing-7-day value multiset
    val batch = events.map(_.tsUs / DayUs).distinct.map { d =>
      val vals = events
        .filter(e => { val ed = e.tsUs / DayUs; ed <= d && ed >= d - 6 })
        .map(_.valueC).sorted
      val total = vals.size.toLong
      var cum = 0L; var p50 = Long.MinValue; var p90 = Long.MinValue
      vals.foreach { v =>
        cum += 1
        if (p50 == Long.MinValue && cum * 2 >= total) p50 = v
        if (p90 == Long.MinValue && cum * 10 >= total * 9) p90 = v
      }
      (d, total, p50, p90, vals.last)
    }.toSet
    def run(name: String, batches: Seq[Seq[HistEvent]]): Set[(Long, Long, Long, Long, Long)] = {
      val input = MemoryStream[HistEvent]
      val q = EventStream.streamingRollingQuantile(spark, input.toDS())
        .writeStream.format("memory").queryName(name)
        .outputMode(OutputMode.Update).start()
      try {
        batches.foreach { b => input.addData(b: _*); q.processAllAvailable() }
        spark.table(name).as[QuantRow].collect()
          .groupBy(_.day).map(_._2.maxBy(_.nSeen))
          .map(r => (r.day, r.nValues, r.p50C, r.p90C, r.maxC)).toSet
      } finally q.stop()
    }
    val a = run("rq_a", Seq(events.take(6), events.drop(6)))
    assert(a == batch, s"stream/batch drift: $a vs $batch")
    // commutative fold: reversed arrival converges identically
    val b = run("rq_b", Seq(events.reverse.take(4), events.reverse.drop(4)))
    assert(b == batch, s"arrival-order drift: $b vs $batch")
    // the no-own-event day really was suppressed
    assert(!a.exists(_._1 == 103L))
  }

  test("streaming KMV distinct converges to the batch sketch, any arrival order") {
    implicit val sqlCtx = spark.sqlContext
    import EventStream.{KmvEvent, KmvRow}
    val k = 8
    // grpA: 40 distinct ids with repeats (saturated, estimate path);
    // grpB: 5 distinct (exact path, nDistinct < k)
    val events =
      (1L to 40L).map(i => KmvEvent("grpA", i * 13 + 5)) ++
        (1L to 20L).map(i => KmvEvent("grpA", (i % 40 + 1) * 13 + 5)) ++
        (1L to 5L).map(i => KmvEvent("grpB", i * 1000))
    // batch twin: the SAME insert rule via the sorted-distinct-take-k
    // definition it implements, estimate via KMinAgg.estimate
    val batch = events.groupBy(_.group).map { case (g, es) =>
      val mins = es.map(e => EventStream.sampleHash(e.id))
        .distinct.sorted.take(k)
      val s = graft.functions.KmvSummary(mins.length.toLong,
        if (mins.length >= k) mins(k - 1) else Long.MaxValue)
      KmvRow(g, graft.functions.KMinAgg.estimate(s, k, 1000000007L),
        es.size.toLong)
    }.toSet
    def run(name: String, batches: Seq[Seq[KmvEvent]]): Set[KmvRow] = {
      val input = MemoryStream[KmvEvent]
      val q = EventStream.streamingKmvDistinct(spark, input.toDS(), k)
        .writeStream.format("memory").queryName(name)
        .outputMode(OutputMode.Update).start()
      try {
        batches.foreach { b => input.addData(b: _*); q.processAllAvailable() }
        spark.table(name).as[KmvRow].collect()
          .groupBy(_.group).map(_._2.maxBy(_.nSeen)).toSet
      } finally q.stop()
    }
    val a = run("kmv_a", Seq(events.take(30), events.drop(30)))
    assert(a == batch, s"stream/batch drift: $a vs $batch")
    // commutative + idempotent fold: reversed arrival converges the same
    val b = run("kmv_b", Seq(events.reverse.take(7), events.reverse.drop(7)))
    assert(b == batch, s"arrival-order drift: $b vs $batch")
    // the saturated group really exercised the estimator (not exact)
    assert(batch.exists(r => r.group == "grpA" && r.nSeen == 60L))
    assert(batch.exists(r => r.group == "grpB" && r.estDistinct == 5L))
  }

  test("streaming debounce equals the batch rule under out-of-order arrival") {
    implicit val sqlCtx = spark.sqlContext
    import EventStream.{DebEvent, DebRow}
    val Min = 60L * 1000000L
    val T0 = 86400L * 1000000L
    val gapUs = 5L * 1000000L // 5 s
    // user 1 'click': burst at +0s/+2s/+4s (only first kept: each gap
    // <= 5s measured vs the PREVIOUS event, kept or not), then +70s
    // (kept). The +2s event arrives LATE (second batch) — buffering
    // must restore event-time order, turning +4s into a drop it would
    // have kept against +0s alone. user 2: isolated event (kept).
    val fixture = Seq(
      DebEvent(1L, "click", T0, 1L),
      DebEvent(1L, "click", T0 + 4L * 1000000L, 3L),
      DebEvent(1L, "click", T0 + 70L * 1000000L, 4L),
      DebEvent(2L, "view", T0 + Min, 5L))
    val late = Seq(DebEvent(1L, "click", T0 + 2L * 1000000L, 2L))
    val input = MemoryStream[DebEvent]
    val q = EventStream.streamingDebounce(spark, input.toDS(), gapUs,
      watermarkDelay = "10 minutes")
      .writeStream.format("memory").queryName("debounce")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(fixture: _*); q.processAllAvailable()
      input.addData(late: _*); q.processAllAvailable()
      // watermark pushers (wm lags a batch — tick twice)
      input.addData(DebEvent(99L, "view", T0 + 120 * Min, 9L))
      q.processAllAvailable()
      input.addData(DebEvent(99L, "view", T0 + 240 * Min, 10L))
      q.processAllAvailable()
      val got = spark.table("debounce").as[DebRow].collect()
        .map(r => r.eventId).toSet
      // batch rule on the SAME fixture: per (user, type) in (ts, id)
      // order, keep iff first or gap > 5s
      val batch = (fixture ++ late).groupBy(e => (e.userId, e.eventType))
        .flatMap { case (_, es) =>
          val sorted = es.sortBy(e => (e.tsUs, e.eventId))
          sorted.zip(Long.MinValue +: sorted.map(_.tsUs))
            .collect { case (e, prev)
              if prev == Long.MinValue || e.tsUs - prev > gapUs => e.eventId }
        }.toSet
      // the finalized fixture events match exactly (watermark pushers
      // 9/10 may still hold; restrict to ids 1..5)
      assert(got.filter(_ <= 5L) == batch.filter(_ <= 5L),
        s"stream $got vs batch $batch")
      assert(got.contains(1L) && got.contains(4L) && got.contains(5L))
      assert(!got.contains(2L) && !got.contains(3L))
    } finally q.stop()
  }

  test("streaming dedup state survives a checkpoint restart") {
    // the production fault-tolerance property: stop the query, restart
    // from the same checkpoint, and a duplicate id arriving AFTER the
    // restart must still be dropped — i.e. the dedup state store is
    // recovered, not rebuilt empty. foreachBatch sink (restart-safe),
    // same MemoryStream across both runs.
    implicit val sqlCtx = spark.sqlContext
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ckpt")
      .toFile.getAbsolutePath
    val input = MemoryStream[(Long, Long, Long)]
    val deduped = EventStream.streamingDedup(
      input.toDF().toDF("eventId", "tsUs", "valueC"), "eventId")
    val seen = new scala.collection.mutable.ArrayBuffer[Long]
    def start() = deduped.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", ckpt)
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        val ids = df.select("eventId").as[Long].collect()
        seen.synchronized { seen ++= ids }
        ()
      }.start()
    val T0 = 86400L * 1000000L
    val q1 = start()
    try {
      input.addData((1L, T0, 10L), (2L, T0 + Min, 20L))
      q1.processAllAvailable()
    } finally q1.stop()
    assert(seen.synchronized(seen.sorted.toSeq) == Seq(1L, 2L))
    val q2 = start()
    try {
      // duplicate of 1 (within watermark) + a genuinely new id
      input.addData((1L, T0 + 2 * Min, 99L), (5L, T0 + 3 * Min, 50L))
      q2.processAllAvailable()
    } finally q2.stop()
    // only the new id is emitted after restart: the recovered state
    // still remembers id 1 (a committed batch is not replayed, so the
    // extra 1 can only appear if state was lost)
    assert(seen.synchronized(seen.sorted.toSeq) == Seq(1L, 2L, 5L))
  }

  test("cleaning pipeline: dedup + quality gate + langid, finalized window stats") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Long, String)]
    val out = EventStream.cleaningPipeline(
      input.toDF().toDF("doc_id", "tsUs", "text"))
    val q = out.writeStream.format("memory").queryName("clean")
      .outputMode(OutputMode.Append).start()
    try {
      val T0 = 86400L * 1000000L // window [24h, 25h)
      // passes quality (26 tokens, 125 chars, EN stopwords) -> "en"
      val en = ("the quick brown fox jumps over the lazy dog and runs far away " * 2).trim
      // passes quality via the one EN stopword "in"; de profile wins langid
      val de = "der hund und die katze ist nicht ein tier zu haus in der stadt " +
        "und die maus ist auch ein tier der vogel ist frei"
      val junk = "too short" // fails every quality bound
      input.addData((1L, T0, en), (1L, T0 + Min, en) /* dup id */ ,
        (2L, T0, de), (3L, T0, junk))
      q.processAllAvailable()
      // push the watermark past the window end (wm lags a batch: tick twice)
      input.addData((99L, T0 + 120 * Min, en))
      q.processAllAvailable()
      input.addData((98L, T0 + 121 * Min, en))
      q.processAllAvailable()
      val rows = spark.table("clean")
        .selectExpr("CAST(w_start AS LONG) AS ws", "lang", "n_docs", "sum_tokens")
        .as[(Long, String, Long, Long)].collect().toSet
      // only the finalized [24h, 25h) window is emitted: the duplicate
      // doc 1 re-delivery is dropped, junk fails the quality gate
      assert(rows == Set((86400L, "en", 1L, 26L), (86400L, "de", 1L, 25L)))
    } finally q.stop()
  }

  test("cleaning pipeline: batch execution of the SAME plan matches streamed finalized windows") {
    implicit val sqlCtx = spark.sqlContext
    val T0 = 86400L * 1000000L // window [24h, 25h)
    val en = ("the quick brown fox jumps over the lazy dog and runs far away " * 2).trim
    val de = "der hund und die katze ist nicht ein tier zu haus in der stadt " +
      "und die maus ist auch ein tier der vogel ist frei"
    val junk = "too short"
    val core = Seq((1L, T0, en), (1L, T0 + Min, en), (2L, T0, de), (3L, T0, junk))
    // batch: the IDENTICAL function over a static frame — withWatermark
    // is a no-op and dropDuplicatesWithinWatermark degrades to
    // dropDuplicates in batch mode, so any divergence from the streamed
    // finalized output is an engine-semantics bug, not a fixture choice
    val batch = EventStream.cleaningPipeline(core.toDF("doc_id", "tsUs", "text"))
      .selectExpr("CAST(w_start AS LONG) AS ws", "lang", "n_docs", "sum_tokens")
      .as[(Long, String, Long, Long)].collect().toSet
    // streaming: same rows, plus two watermark-advance ticks so the
    // [24h, 25h) window finalizes (the tick rows' own window does not —
    // it must NOT appear; the batch run never sees them)
    val input = MemoryStream[(Long, Long, String)]
    val q = EventStream.cleaningPipeline(input.toDF().toDF("doc_id", "tsUs", "text"))
      .writeStream.format("memory").queryName("clean_eq")
      .outputMode(OutputMode.Append).start()
    val streamed = try {
      input.addData(core: _*); q.processAllAvailable()
      input.addData((99L, T0 + 120 * Min, en)); q.processAllAvailable()
      input.addData((98L, T0 + 121 * Min, en)); q.processAllAvailable()
      spark.table("clean_eq")
        .selectExpr("CAST(w_start AS LONG) AS ws", "lang", "n_docs", "sum_tokens")
        .as[(Long, String, Long, Long)].collect().toSet
    } finally q.stop()
    assert(streamed == batch, s"stream/batch drift: streamed=$streamed batch=$batch")
    assert(batch == Set((86400L, "en", 1L, 26L), (86400L, "de", 1L, 25L)))
  }

  test("sessionize: finalized streaming sessions equal the q18-plan batch twin") {
    implicit val sqlCtx = spark.sqlContext
    val T0 = 86400L * 1000000L
    // shared fixture: two users, three sessions, out-of-order arrival
    // within a batch and a cross-batch extension — every event arrives
    // ABOVE the watermark (a below-wm drop is stream-only semantics the
    // batch twin cannot see; that path is pinned separately above)
    val core = Seq(
      Event(1L, T0 + 5 * Min, 20L), Event(1L, T0, 10L),        // batch 1 (out of order)
      Event(2L, T0 + 30 * Min, 70L),
      Event(1L, T0 + 10 * Min, 30L),                           // batch 2: extends session A
      Event(1L, T0 + 130 * Min, 40L), Event(1L, T0 + 135 * Min, 50L))
    val input = MemoryStream[Event]
    val q = EventStream.sessionize(spark, input.toDS(), gapUs = 30 * Min)
      .writeStream.format("memory").queryName("sess_eq")
      .outputMode(OutputMode.Append).start()
    val streamed = try {
      input.addData(core(0), core(1), core(2)); q.processAllAvailable()
      input.addData(core(3), core(4), core(5)); q.processAllAvailable()
      // watermark pushers: finalize everything (wm lags a batch — tick
      // twice); their own never-closed session must NOT be emitted and
      // the batch twin never sees them
      input.addData(Event(9L, T0 + 400 * Min, 1L)); q.processAllAvailable()
      input.addData(Event(9L, T0 + 410 * Min, 1L)); q.processAllAvailable()
      spark.table("sess_eq").as[Session].collect().toSet
    } finally q.stop()
    val batch = EventStream.sessionizeBatch(spark, core.toDS(), gapUs = 30 * Min)
      .collect().toSet
    assert(streamed == batch, s"stream/batch drift: streamed=$streamed batch=$batch")
    assert(batch == Set(
      Session(1L, T0, T0 + 10 * Min, 3L, 60L),
      Session(1L, T0 + 130 * Min, T0 + 135 * Min, 2L, 90L),
      Session(2L, T0 + 30 * Min, T0 + 30 * Min, 1L, 70L)))
  }

  test("streaming dedup: survivors equal the d1 exact-dedup batch twin") {
    implicit val sqlCtx = spark.sqlContext
    val T0 = 86400L * 1000000L
    // the contract compared is AT-LEAST-ONCE RE-DELIVERY: duplicates
    // are byte-identical re-sends of the same doc (same id, same text),
    // delivered in order — so dedup-by-id (streaming) and d1's
    // dedup-by-text (batch, min id per text) keep the same survivors
    val core = Seq(
      (10L, T0, "alpha doc text"),
      (11L, T0 + Min, "beta doc text"),
      (10L, T0 + 2 * Min, "alpha doc text"),  // same-batch re-delivery
      (12L, T0 + 3 * Min, "gamma doc text"))
    val late = (11L, T0 + 4 * Min, "beta doc text") // cross-batch re-delivery
    val input = MemoryStream[(Long, Long, String)]
    val q = EventStream.streamingDedup(
        input.toDF().toDF("doc_id", "tsUs", "text"), "doc_id")
      .writeStream.format("memory").queryName("dd_eq")
      .outputMode(OutputMode.Append).start()
    val streamed = try {
      input.addData(core: _*); q.processAllAvailable()
      input.addData(late); q.processAllAvailable()
      spark.table("dd_eq").selectExpr("doc_id", "text")
        .as[(Long, String)].collect().toSet
    } finally q.stop()
    val batchDocs = (core :+ late).toDF("doc_id", "tsUs", "text")
    val batch = graft.operators.Dedup.exactSurvivors(batchDocs, "text", "doc_id")
      .join(batchDocs.dropDuplicates("doc_id"), "doc_id")
      .selectExpr("doc_id", "text").as[(Long, String)].collect().toSet
    assert(streamed == batch, s"stream/batch drift: streamed=$streamed batch=$batch")
    assert(batch == Set((10L, "alpha doc text"), (11L, "beta doc text"),
      (12L, "gamma doc text")))
  }

  test("streaming near-dup candidates equal the batch d2 LSH candidates") {
    import EventStream.{CandPair, DocEvent}
    implicit val sqlCtx = spark.sqlContext
    val T0 = 86400L * 1000000L
    // planted near-dup corpus: 1~2 near-identical, 3 unrelated, 4 an
    // exact copy of 1 arriving in a LATER batch (cross-batch pairing),
    // 5 too short for a signature (must vanish on both sides)
    val base = "the quick brown fox jumps over the lazy dog while rain falls on the green hills"
    val near = "the quick brown fox jumps over the lazy dog while rain falls on the green coast"
    val other = "completely different words about spark plans shuffles and broadcast joins at scale"
    val batch1 = Seq(DocEvent(1L, T0, base), DocEvent(2L, T0 + Min, near),
      DocEvent(3L, T0 + 2 * Min, other))
    val batch2 = Seq(DocEvent(4L, T0 + 3 * Min, base), DocEvent(5L, T0 + 4 * Min, "a b"))
    val input = MemoryStream[DocEvent]
    val q = EventStream.nearDupCandidates(spark, input.toDS(), bands = 8, rows = 2)
      .writeStream.format("memory").queryName("nd_cand")
      .outputMode(OutputMode.Append).start()
    val streamed = try {
      input.addData(batch1: _*); q.processAllAvailable()
      input.addData(batch2: _*); q.processAllAvailable()
      spark.table("nd_cand").as[CandPair].collect()
        .map(p => (p.docA, p.docB)).toSet
    } finally q.stop()
    // batch twin: the SHIPPED d2 candidate pipeline over the same docs
    import org.apache.spark.sql.functions.col
    import graft.operators.{Dedup, TextOps}
    val docsDf = (batch1 ++ batch2).map(d => (d.docId, d.text)).toDF("doc_id", "text")
      .select(col("doc_id"), TextOps.shingles(col("text"), 3).as("__sh"))
    val batch = Dedup.lshCandidates(
        Dedup.signatures(docsDf, "doc_id", "__sh", k = 16), bands = 8, rows = 2)
      .as[(Long, Long)].collect().toSet
    assert(streamed == batch, s"stream/batch drift: streamed=$streamed batch=$batch")
    // the planted structure is present: 1~2, 1~4 (exact copy), 2~4
    assert(Set((1L, 2L), (1L, 4L), (2L, 4L)).subsetOf(batch))
    assert(!batch.exists(p => p._1 == 3L || p._2 == 3L || p._1 == 5L || p._2 == 5L))
  }

  test("streaming index alerts equal the batch indexed-admission dropped set") {
    import EventStream.DocEvent
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.col
    import graft.operators.Dedup
    val T0 = 86400L * 1000000L
    val base = "the quick brown fox jumps over the lazy dog while rain falls on the green hills"
    val near = base.replace("hills", "coast")
    val other = "completely different words about spark plans shuffles and broadcast joins at scale"
    val third = "a corpus document concerning entirely unrelated matters of accounting and ledgers"
    // persisted corpus index (the d25 shape), built by the SHIPPED batch builder
    val idx = java.nio.file.Files.createTempDirectory("nd_alert_idx").toString
    Dedup.buildNearDupIndex(
      Seq((1L, base), (2L, other), (3L, third)).toDF("doc_id", "text"),
      idx, "text", "doc_id", bands = 8, rows = 2)
    // incoming stream: near-copy of corpus 1; exact copy of corpus 2 in
    // a LATER batch; a fresh doc; one too short for a signature. No
    // in-batch near-dups, so the batch drop set is purely cross-corpus.
    val b1 = Seq(DocEvent(10L, T0, near), DocEvent(11L, T0 + Min,
      "some brand new material that matches none of the corpus documents at all today"))
    val b2 = Seq(DocEvent(12L, T0 + 2 * Min, other), DocEvent(13L, T0 + 3 * Min, "a b"))
    val input = MemoryStream[DocEvent]
    val q = EventStream.indexedNearDupAlerts(spark, input.toDS(), idx,
        bands = 8, rows = 2)
      .writeStream.format("memory").queryName("nd_alerts")
      .outputMode(OutputMode.Append).start()
    val alerts = try {
      input.addData(b1: _*); q.processAllAvailable()
      input.addData(b2: _*); q.processAllAvailable()
      spark.table("nd_alerts").select("doc_id", "corpus_id", "jacc_pct")
        .as[(Long, Long, Long)].collect().toSet
    } finally q.stop()
    // planted structure: 10 near-dups corpus 1, 12 exact-dups corpus 2
    assert(alerts.map(a => (a._1, a._2)) == Set((10L, 1L), (12L, 2L)),
      s"alerts=$alerts")
    assert(alerts.collectFirst { case (12L, 2L, j) => j }.contains(100L))
    // batch twin: the SHIPPED d25 operator over the same incoming docs —
    // its dropped set (incoming minus survivors) must equal the alerted ids
    val incoming = (b1 ++ b2).map(d => (d.docId, d.text)).toDF("doc_id", "text")
    val survivors = Dedup.indexedNearDupSurvivors(spark, idx, incoming,
        "text", "doc_id", bands = 8, rows = 2)
      .as[Long].collect().toSet
    val batchDropped = Set(10L, 11L, 12L, 13L) -- survivors
    assert(alerts.map(_._1) == batchDropped,
      s"stream/batch drift: alerts=${alerts.map(_._1)} dropped=$batchDropped")
  }

  test("streaming near-dup state is watermark-bounded: evicted members stop pairing") {
    import EventStream.{CandPair, DocEvent}
    implicit val sqlCtx = spark.sqlContext
    val T0 = 86400L * 1000000L
    val base = "the quick brown fox jumps over the lazy dog while rain falls on the green hills"
    val far = "completely different words about spark plans shuffles and broadcast joins at scale"
    val input = MemoryStream[DocEvent]
    val q = EventStream.nearDupCandidates(spark, input.toDS(),
        bands = 8, rows = 2, watermarkDelay = "30 minutes")
      .writeStream.format("memory").queryName("nd_evict")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(DocEvent(1L, T0, base)); q.processAllAvailable()
      // push the watermark hours past T0 + delay (unrelated doc)
      input.addData(DocEvent(9L, T0 + 600 * Min, far)); q.processAllAvailable()
      input.addData(DocEvent(8L, T0 + 610 * Min, far)); q.processAllAvailable()
      // an exact copy of doc 1 arrives NOW: doc 1's bucket entries are
      // below the watermark and must have been pruned — no pair
      input.addData(DocEvent(2L, T0 + 620 * Min, base)); q.processAllAvailable()
      val pairs = spark.table("nd_evict").as[CandPair].collect()
        .map(p => (p.docA, p.docB)).toSet
      assert(!pairs.contains((1L, 2L)),
        s"evicted member still paired: $pairs")
      // the two contemporaneous far docs DO pair (they are exact dups
      // of each other, within the watermark)
      assert(pairs.contains((8L, 9L)), s"live members failed to pair: $pairs")
    } finally q.stop()
  }

  test("windowed counts aggregate per tumbling hour (update mode)") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val counts = EventStream.windowedCounts(input.toDF())
    val q = counts.writeStream.format("memory").queryName("wc")
      .outputMode(OutputMode.Update).start()
    try {
      val Hour = 60 * Min
      input.addData(Event(1L, 5 * Min, 10L), Event(1L, 20 * Min, 10L), Event(1L, Hour + Min, 5L))
      q.processAllAvailable()
      val rows = spark.table("wc")
        .selectExpr("userId", "n", "value_c").as[(Long, Long, Long)].collect().toSet
      assert(rows == Set((1L, 2L, 20L), (1L, 1L, 5L)))
    } finally q.stop()
  }

  test("sliding windows: each event lands in duration/slide overlapping windows") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    // 1h windows sliding every 30min -> every event is in exactly 2
    val counts = EventStream.slidingCounts(input.toDF(),
      duration = "1 hour", slide = "30 minutes")
    val q = counts.writeStream.format("memory").queryName("swc")
      .outputMode(OutputMode.Update).start()
    try {
      // 45min: windows [0,60) and [30,90); 75min: [30,90) and [60,120)
      input.addData(Event(1L, 45 * Min, 10L), Event(1L, 75 * Min, 7L))
      q.processAllAvailable()
      val rows = spark.table("swc")
        .selectExpr("CAST(window.start AS LONG)", "n", "value_c")
        .as[(Long, Long, Long)].collect().toSet
      assert(rows == Set(
        (0L, 1L, 10L),            // [0,60): first event only
        (30L * 60, 2L, 17L),      // [30,90): both
        (60L * 60, 1L, 7L)))      // [60,120): second only
    } finally q.stop()
  }

  test("streaming attribution: out-of-order credits equal the batch q60 plan") {
    implicit val sqlCtx = spark.sqlContext
    import EventStream.{AttrEvent, Attribution}
    val input = MemoryStream[AttrEvent]
    val out = EventStream.streamingAttribution(spark, input.toDS(),
      watermarkDelay = "10 minutes")
    val q = out.writeStream.format("memory").queryName("attr")
      .outputMode(OutputMode.Append).start()
    try {
      val T0 = 86400L * 1000000L
      // user 1's CLICK arrives after its purchase was delivered but
      // BEFORE the watermark passes — the buffer must restore event-time
      // order so the purchase credits 'click', not 'view'. user 2's
      // first purchase has no prior touch -> 'direct'.
      input.addData(
        AttrEvent(1L, T0 + Min, 1L, "view", 100L),
        AttrEvent(1L, T0 + 5 * Min, 2L, "purchase", 1000L),
        AttrEvent(2L, T0 + Min, 3L, "purchase", 2000L),
        AttrEvent(2L, T0 + 2 * Min, 4L, "error", 0L))
      q.processAllAvailable()
      input.addData(
        AttrEvent(1L, T0 + 3 * Min, 5L, "click", 0L),
        AttrEvent(2L, T0 + 6 * Min, 6L, "purchase", 3000L))
      q.processAllAvailable()
      // advance the watermark far past every event so buffers finalize
      input.addData(AttrEvent(99L, T0 + 120 * Min, 7L, "view", 0L))
      q.processAllAvailable()
      input.addData(AttrEvent(99L, T0 + 240 * Min, 8L, "view", 0L))
      q.processAllAvailable()
      val got = spark.table("attr").as[Attribution].collect()
        .map(a => (a.purchaseId, a.channel, a.valueC)).toSet
      assert(got == Set((2L, "click", 1000L), (3L, "direct", 2000L),
        (6L, "error", 3000L)), s"got $got")

      // the batch q60 registry plan on the SAME fixture agrees on the
      // per-channel aggregate (its output shape)
      val dir = java.nio.file.Files.createTempDirectory("graft-attr-").toString
      Seq(
        (1L, new java.sql.Timestamp((T0 + Min) / 1000L), 1L, "view", 1.0, "{}"),
        (2L, new java.sql.Timestamp((T0 + 5 * Min) / 1000L), 1L, "purchase", 10.0, "{}"),
        (3L, new java.sql.Timestamp((T0 + Min) / 1000L), 2L, "purchase", 20.0, "{}"),
        (4L, new java.sql.Timestamp((T0 + 2 * Min) / 1000L), 2L, "error", 0.0, "{}"),
        (5L, new java.sql.Timestamp((T0 + 3 * Min) / 1000L), 1L, "click", 0.0, "{}"),
        (6L, new java.sql.Timestamp((T0 + 6 * Min) / 1000L), 2L, "purchase", 30.0, "{}"),
        (7L, new java.sql.Timestamp((T0 + 120 * Min) / 1000L), 99L, "view", 0.0, "{}"),
        (8L, new java.sql.Timestamp((T0 + 240 * Min) / 1000L), 99L, "view", 0.0, "{}"))
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .write.parquet(s"$dir/events.parquet")
      val batch = graft.SparkEntry.queries("q60_attribution")(spark, dir)
        .as[(String, Long, Long)].collect().toSet
      val streamedAgg = spark.table("attr").as[Attribution].collect()
        .groupBy(_.channel)
        .map { case (ch, as) => (ch, as.size.toLong, as.map(_.valueC).sum) }.toSet
      assert(batch == streamedAgg, s"batch $batch vs streamed $streamedAgg")
    } finally q.stop()
  }

  test("streaming rate anomaly: finalized hourly flags equal the batch q61 plan") {
    implicit val sqlCtx = spark.sqlContext
    import EventStream.{RateEvent, RateAnomaly}
    val HourUs = 3600L * 1000000L
    val input = MemoryStream[RateEvent]
    val out = EventStream.streamingRateAnomaly(spark, input.toDS(),
      watermarkDelay = "10 minutes")
    val q = out.writeStream.format("memory").queryName("ranom")
      .outputMode(OutputMode.Append).start()
    try {
      // 30 quiet hours of 4 'view' events, then hour 30 spikes to 16.
      // Delivered in two out-of-order batches; a far-future tick
      // advances the watermark so every hour finalizes.
      // intra-batch arrival order is shuffled (the buffer must not care);
      // batches themselves advance in time, honoring the watermark
      // contract — an event can be late by at most the delay, not hours
      val quiet = (0 until 30).flatMap(h =>
        (0 until 4).map(i => RateEvent("view", h * HourUs + i * 1000000L)))
      val spike = (0 until 16).map(i => RateEvent("view", 30 * HourUs + i * 1000000L))
      val rnd = new scala.util.Random(7)
      val (a, b) = (rnd.shuffle(quiet.filter(_.tsUs < 15 * HourUs)),
        rnd.shuffle(quiet.filter(_.tsUs >= 15 * HourUs) ++ spike))
      input.addData(a: _*)
      q.processAllAvailable()
      input.addData(b: _*)
      q.processAllAvailable()
      input.addData(RateEvent("view", 200 * HourUs))
      q.processAllAvailable()
      input.addData(RateEvent("view", 400 * HourUs))
      q.processAllAvailable()
      val got = spark.table("ranom").as[RateAnomaly].collect()
        .map(r => (r.eventType, r.hr, r.n, r.trailN, r.trailSum)).toSet
      assert(got == Set(("view", 30L, 16L, 24L, 96L)), s"got $got")

      // batch q61 on the same fixture (parquet dir) agrees
      val dir = java.nio.file.Files.createTempDirectory("graft-ranom-").toString
      (quiet ++ spike).zipWithIndex.map { case (e, i) =>
        (i.toLong, new java.sql.Timestamp(e.tsUs / 1000L), 1L, e.eventType, 1.0, "{}")
      }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .write.parquet(s"$dir/events.parquet")
      val batch = graft.SparkEntry.queries("q61_rate_anomaly")(spark, dir)
        .as[(String, Long, Long, Long, Long)].collect().toSet
      assert(batch == got, s"batch $batch vs streamed $got")
    } finally q.stop()
  }
}
