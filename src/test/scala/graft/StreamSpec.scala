package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.streaming.Streams
import graft.streaming.Streams.Ev
import graft.queries.StreamQueries
import org.apache.spark.graftspec.TestBus
import scala.jdk.CollectionConverters._

class StreamSpec extends SparkSpec {

  private def ev(id: Long, minute: Long, user: Long,
      typ: String = "click", value: Double = 1.0): Ev =
    Ev(id, new Timestamp(1700000000000L + minute * 60000L), user, typ, value)

  test("windowAgg: streaming (complete mode) equals batch on same data") {
    implicit val ctx = spark.sqlContext
    import spark.implicits._
    val events = Seq(
      ev(1, 0, 1), ev(2, 10, 1, "view", 2.0), ev(3, 65, 2, "click", 3.5),
      ev(4, 70, 2, "error", 0.5), ev(5, 130, 3))
    val ms = MemoryStream[Ev]
    ms.addData(events)
    val q = Streams.windowAgg(ms.toDS().toDF())
      .writeStream.format("memory").queryName("wagg")
      .outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("wagg").orderBy("ws", "event_type").collect()
    val batch = Streams.windowAgg(events.toDF())
      .orderBy("ws", "event_type").collect()
    assert(streamed.toSeq === batch.toSeq)
    assert(batch.length === 5)
  }

  test("hoppingAgg: streaming (complete mode) equals batch on same data") {
    implicit val ctx = spark.sqlContext
    import spark.implicits._
    val events = Seq(
      ev(1, 0, 1), ev(2, 10, 1, "view", 2.0), ev(3, 65, 2, "click", 3.5),
      ev(4, 70, 2, "error", 0.5), ev(5, 130, 3))
    val ms = MemoryStream[Ev]
    ms.addData(events)
    val q = Streams.hoppingAgg(ms.toDS().toDF())
      .writeStream.format("memory").queryName("hopagg")
      .outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("hopagg").orderBy("ws", "event_type").collect()
    val batch = Streams.hoppingAgg(events.toDF())
      .orderBy("ws", "event_type").collect()
    assert(streamed.toSeq === batch.toSeq)
    // every event contributes to exactly 4 hops
    assert(batch.map(_.getLong(2)).sum === 4L * events.size)
  }

  test("scd2Stream: closed intervals match the batch gaps-and-islands twin") {
    implicit val ctx = spark.sqlContext
    import spark.implicits._
    // user 1: a a | b a  (run of 'a' SPANS the batch boundary before 'b'
    // closes it); user 2: x | x (never closes -> no emission)
    val batch1 = Seq(ev(1, 0, 1, "a"), ev(2, 10, 1, "a"), ev(10, 0, 2, "x"))
    val batch2 = Seq(ev(3, 20, 1, "b"), ev(4, 30, 1, "a"), ev(11, 40, 2, "x"))
    val ms = MemoryStream[Ev]
    val q = Streams.scd2Stream(ms.toDS())
      .writeStream.format("memory").queryName("scd2s")
      .outputMode("append").start()
    try {
      ms.addData(batch1); q.processAllAvailable()
      ms.addData(batch2); q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("scd2s")
      .orderBy("user_id", "run_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))
    val t0 = 1700000000L
    // batch twin (EventQueries.qScd2 semantics) on the union, closed
    // rows only: user 1 -> [a: t0..t0+1200, n=2], [b: t0+1200..t0+1800,
    // n=1]; the trailing 'a' run and user 2's 'x' run stay open
    assert(got.toSeq === Seq(
      (1L, 1L, "a", t0, t0 + 1200, 2L),
      (1L, 2L, "b", t0 + 1200, t0 + 1800, 1L)))
  }

  test("resampleStream: closed days match the batch LOCF twin across batches") {
    implicit val ctx = spark.sqlContext
    import spark.implicits._
    // user 1: day 0 (2 events, last value wins) | day 3 in batch 2 →
    // closes day 0 and fills gap days 1, 2 with day 0's last value;
    // day 3 stays open. user 2: one event, day stays open → no rows.
    def evv(id: Long, minute: Long, user: Long, v: Double): Streams.Ev =
      Streams.Ev(id, new java.sql.Timestamp(1700000000000L + minute * 60000L),
        user, "view", v)
    val day0 = 1700000000000L / 86400000L
    val batch1 = Seq(evv(1, 0, 1, 5.0), evv(2, 10, 1, 7.0), evv(9, 0, 2, 1.0))
    val batch2 = Seq(evv(3, 3 * 1440, 1, 9.0))
    val ms = MemoryStream[Streams.Ev]
    val q = Streams.resampleStream(ms.toDS())
      .writeStream.format("memory").queryName("resamp")
      .outputMode("append").start()
    try {
      ms.addData(batch1); q.processAllAvailable()
      ms.addData(batch2); q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("resamp").orderBy("user_id", "day").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    assert(got.toSeq === Seq(
      (1L, day0, 7.0, 2L),          // closed day: latest value, 2 events
      (1L, day0 + 1, 7.0, 0L),      // gap days forward-filled
      (1L, day0 + 2, 7.0, 0L)))
    // cross-check against the batch twin on the SAME events (closed
    // prefix = batch rows strictly before each user's last day)
    val dir = java.nio.file.Files.createTempDirectory("graft_resamp").toString
    (batch1 ++ batch2).toDF().coalesce(1).write.mode("overwrite")
      .parquet(s"$dir/events.parquet")
    val batchRows = graft.queries.EventQueries.qResample(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getLong(3)))
      .filter { case (u, d, _, _) => u == 1L && d < day0 + 3 }
    assert(got.toSeq === batchRows.toSeq)
  }

  test("resampleStream: late cross-batch event dropped and counted") {
    implicit val ctx = spark.sqlContext
    import spark.implicits._
    def evv(id: Long, minute: Long, v: Double): Streams.Ev =
      Streams.Ev(id, new java.sql.Timestamp(1700000000000L + minute * 60000L),
        1L, "view", v)
    val late = spark.sparkContext.longAccumulator("resample_dropped_late")
    val ms = MemoryStream[Streams.Ev]
    val q = Streams.resampleStream(ms.toDS(), droppedLate = Some(late))
      .writeStream.format("memory").queryName("resamplate")
      .outputMode("append").start()
    try {
      ms.addData(Seq(evv(1, 2 * 1440, 5.0))); q.processAllAvailable() // day 2
      ms.addData(Seq(evv(2, 0, 9.0), evv(3, 3 * 1440, 1.0))) // day 0 late, day 3
      q.processAllAvailable()
    } finally q.stop()
    val day0 = 1700000000000L / 86400000L
    val got = spark.table("resamplate").collect()
      .map(r => (r.getLong(1), r.getDouble(2), r.getLong(3)))
    // the late day-0 event never rewrote history: day 2 closed with 5.0
    assert(got.toSeq === Seq((day0 + 2, 5.0, 1L)))
    assert(late.value === 1L)
  }

  test("resampleStream: a later batch's event older than the open day's " +
      "latest is dropped and counted, not folded over it") {
    implicit val ctx = spark.sqlContext
    import spark.implicits._
    val day0 = 1700000000000L / 86400000L
    def at(id: Long, day: Long, hour: Int, v: Double): Streams.Ev =
      Streams.Ev(id, new java.sql.Timestamp(
        (day0 + day) * 86400000L + hour * 3600000L), 1L, "view", v)
    val late = spark.sparkContext.longAccumulator("resample_open_day_late")
    val ms = MemoryStream[Streams.Ev]
    val q = Streams.resampleStream(ms.toDS(), droppedLate = Some(late))
      .writeStream.format("memory").queryName("resampopen")
      .outputMode("append").start()
    try {
      ms.addData(Seq(at(1, 0, 10, 5.0), at(2, 0, 12, 7.0)))
      q.processAllAvailable()
      ms.addData(Seq(at(3, 0, 11, 9.0), at(4, 1, 10, 1.0)))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("resampopen").collect()
      .map(r => (r.getLong(1), r.getDouble(2), r.getLong(3)))
    // 11:00 is older than the folded 12:00: day 0 closes on 7.0
    assert(got.toSeq === Seq((day0, 7.0, 2L)))
    assert(late.value === 1L)
  }

  test("scd2Stream: cross-batch late event is dropped and counted, " +
      "never fragmented into a bogus run") {
    implicit val ctx = spark.sqlContext
    import spark.implicits._
    // user 1 in-order: a(t0) a(t0+600) | then batch2 delivers b(t0+300)
    // — OLDER than the open run's frontier. Pre-r8 this silently
    // closed run 'a' at t0+300 and opened 'b' (history fragmentation);
    // the contract is drop + count.
    val late = spark.sparkContext.longAccumulator("scd2_dropped_late")
    val batch1 = Seq(ev(1, 0, 1, "a"), ev(2, 10, 1, "a"))
    val batch2 = Seq(ev(3, 5, 1, "b"), ev(4, 20, 1, "b"))
    val ms = MemoryStream[Ev]
    val q = Streams.scd2Stream(ms.toDS(), droppedLate = Some(late))
      .writeStream.format("memory").queryName("scd2late")
      .outputMode("append").start()
    try {
      ms.addData(batch1); q.processAllAvailable()
      ms.addData(batch2); q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("scd2late")
      .orderBy("user_id", "run_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))
    val t0 = 1700000000L
    // the late b(t0+300) was dropped; the IN-ORDER b(t0+1200) closes
    // run 'a' exactly where in-order processing would
    assert(got.toSeq === Seq((1L, 1L, "a", t0, t0 + 1200, 2L)))
    assert(late.value === 1L, s"late counter ${late.value}")
  }

  test("scd2Stream agrees with qScd2 on the real corpus (closed intervals)") {
    implicit val ctx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val events = graft.util.Tables(spark, sf).events
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
        col("value"))
      .as[Ev].collect().toSeq
    val ms = MemoryStream[Ev]
    ms.addData(events)
    val q = Streams.scd2Stream(ms.toDS())
      .writeStream.format("memory").queryName("scd2corpus")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("scd2corpus")
      .orderBy("user_id", "run_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toSeq
    val batch = graft.queries.EventQueries.qScd2(spark, sf)
      .filter(col("valid_to_s").isNotNull).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toSeq
    assert(streamed === batch)
    assert(streamed.nonEmpty)
  }

  /** An event `us` microseconds after 1700000000 s (a whole second). */
  private def evUs(id: Long, us: Long, typ: String,
      value: Double = 1.0): Ev = {
    val ts = new Timestamp(1700000000000L + Math.floorDiv(us, 1000000L) * 1000L)
    ts.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt)
    Ev(id, ts, 1L, typ, value)
  }

  /** Writes `events` as a one-table corpus for the batch twins. */
  private def eventsDir(events: Seq[Ev]): String = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_twin").toString
    events.toDF().coalesce(1).write.parquet(s"$dir/events.parquet")
    dir
  }

  private def runAppend[T](name: String, q: org.apache.spark.sql.Dataset[T])
      : Array[org.apache.spark.sql.Row] = {
    val sq = q.writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    try sq.processAllAvailable() finally sq.stop()
    spark.table(name).collect()
  }

  test("scd2Stream orders same-millisecond events by microsecond time, " +
      "as qScd2 does") {
    implicit val ctx = spark.sqlContext
    import spark.implicits._
    // ids 3 and 2 share a millisecond, event_ids against time order:
    // by (ts, event_id) the runs are a, b, a, c; by (ms, event_id) they
    // would be a, b, c
    val events = Seq(evUs(1, 0, "a"), evUs(3, 100, "b"), evUs(2, 700, "a"),
      evUs(4, 60000000L, "c"))
    val ms = MemoryStream[Ev]
    ms.addData(events)
    val got = runAppend("scd2us", Streams.scd2Stream(ms.toDS()))
      .map(r => (r.getLong(1), r.getString(2), r.getLong(3), r.getLong(4),
        r.getLong(5))).sortBy(_._1).toSeq
    val t0 = 1700000000L
    assert(got === Seq((1L, "a", t0, t0, 1L), (2L, "b", t0, t0, 1L),
      (3L, "a", t0, t0 + 60, 1L)))
    val batch = graft.queries.EventQueries.qScd2(spark, eventsDir(events))
      .filter(col("valid_to_s").isNotNull).collect()
      .map(r => (r.getLong(1), r.getString(2), r.getLong(3), r.getLong(4),
        r.getLong(5))).toSeq
    assert(got === batch)
  }

  test("resampleStream picks a day's latest value by microsecond time, " +
      "as qResample does") {
    implicit val ctx = spark.sqlContext
    import spark.implicits._
    // ids 2 and 1 share a millisecond, event_ids against time order:
    // the day's latest event is id 1 (7.0), not the higher event_id
    val events = Seq(evUs(2, 0, "view", 5.0), evUs(1, 500, "view", 7.0),
      evUs(3, 86400000000L, "view", 9.0))
    val ms = MemoryStream[Ev]
    ms.addData(events)
    val got = runAppend("resampus", Streams.resampleStream(ms.toDS()))
      .map(r => (r.getLong(1), r.getDouble(2), r.getLong(3))).toSeq
    val day0 = 1700000000L / 86400L
    assert(got === Seq((day0, 7.0, 2L)))
    val batch = graft.queries.EventQueries.qResample(spark, eventsDir(events))
      .collect().map(r => (r.getLong(1), r.getDouble(2), r.getLong(3)))
      .filter(_._1 == day0).toSeq
    assert(got === batch)
  }

  test("sequenceMatchStream orders same-second events by event_id, " +
      "as q_sequence_match does") {
    implicit val ctx = spark.sqlContext
    import spark.implicits._
    // in second 1 the purchase (id 3) precedes the click (id 2) by
    // milliseconds; whole seconds then event_id put the click first,
    // so the view → click → purchase funnel completes once
    val events = Seq(evUs(1, 0, "view"), evUs(3, 1000000L, "purchase"),
      evUs(2, 1500000L, "click"))
    val ms = MemoryStream[Ev]
    ms.addData(events)
    val got = runAppend("seqmus", Streams.sequenceMatchStream(ms.toDS()))
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got === Seq((1L, 1L, 1700000001L)))
    val batch = graft.queries.EventQueries.qSequenceMatch(spark,
      eventsDir(events)).collect().map(r => (r.getLong(0), r.getInt(1)))
    assert(batch.toSeq === Seq((1L, 1)))
  }

  test("attributionStream: cross-batch last-click carry, lookback expiry, " +
      "unattributed bucket") {
    implicit val ctx = spark.sqlContext
    import spark.implicits._
    import Streams.AttrEv
    val day = 86400L
    // user 1: click(campaign 3) in batch 1; batch 2's first purchase
    // attributes to it, the second lands 8 days out → outside the
    // 7-day lookback → -1. user 2: purchase before any click → -1.
    val batch1 = Seq(
      AttrEv(1, 1000, 1, is_click = true, campaign = 3, cents = 0),
      AttrEv(10, 1000, 2, is_click = false, campaign = -1, cents = 200))
    val batch2 = Seq(
      AttrEv(2, 1600, 1, is_click = false, campaign = -1, cents = 500),
      AttrEv(3, 1000 + 8 * day, 1, is_click = false, campaign = -1,
        cents = 300))
    val ms = MemoryStream[AttrEv]
    val q = Streams.attributionStream(ms.toDS())
      .writeStream.format("memory").queryName("attrs")
      .outputMode("append").start()
    try {
      ms.addData(batch1); q.processAllAvailable()
      ms.addData(batch2); q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("attrs").orderBy("user_id", "event_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq === Seq(
      (1L, 2L, 3L, 500L),
      (1L, 3L, -1L, 300L),
      (2L, 10L, -1L, 200L)))
  }

  test("attributionStream: cross-batch late purchase is dropped and counted") {
    implicit val ctx = spark.sqlContext
    import spark.implicits._
    import Streams.AttrEv
    val late = spark.sparkContext.longAccumulator("attr_dropped_late")
    val batch1 = Seq(
      AttrEv(1, 2000, 1, is_click = true, campaign = 5, cents = 0))
    val batch2 = Seq(
      AttrEv(2, 1000, 1, is_click = false, campaign = -1, cents = 100),
      AttrEv(3, 3000, 1, is_click = false, campaign = -1, cents = 700))
    val ms = MemoryStream[AttrEv]
    val q = Streams.attributionStream(ms.toDS(), droppedLate = Some(late))
      .writeStream.format("memory").queryName("attrlate")
      .outputMode("append").start()
    try {
      ms.addData(batch1); q.processAllAvailable()
      ms.addData(batch2); q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("attrlate").orderBy("event_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq === Seq((1L, 3L, 5L, 700L)),
      "the stale purchase must not emit (its campaign would be wrong)")
    assert(late.value === 1L, s"late counter ${late.value}")
  }

  test("attributionStream rollup agrees with q_attribution on the real corpus") {
    implicit val ctx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions.{coalesce, col, count, lit, sum}
    import Streams.AttrEv
    val proj = graft.queries.EventQueries.attributionEvents(spark, sf)
      .select(col("event_id"), col("es"), col("user_id"),
        (col("event_type") === "click").as("is_click"),
        coalesce(col("campaign"), lit(-1L)).as("campaign"),
        coalesce(col("cents"), lit(0L)).as("cents"))
      .as[AttrEv].collect().toSeq
    val ms = MemoryStream[AttrEv]
    ms.addData(proj)
    val q = Streams.attributionStream(ms.toDS())
      .writeStream.format("memory").queryName("attrcorpus")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("attrcorpus")
      .groupBy(col("campaign"))
      .agg(count(lit(1)).as("n_conversions"), sum(col("cents")).as("rev"))
      .orderBy(col("campaign")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val batch = graft.queries.EventQueries.qAttribution(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(streamed === batch)
    assert(streamed.nonEmpty)
  }

  test("anomalyStream: day closed across a batch boundary is scored like batch; " +
      "late day dropped") {
    implicit val ctx = spark.sqlContext
    import spark.implicits._
    def evd(id: Long, day: Long, i: Long, typ: String): Ev =
      Ev(id, new java.sql.Timestamp((1700006400L + day * 86400L) * 1000L + i),
        1, typ, 1.0)
    // 'click': days 0..6 alternate 1,3 then day 7 spikes to 10 (the
    // EventSpec fixture): num = 7*10-13 = 57, den2 = 7*31-169 = 48
    val b1 = (0L to 4L).flatMap(d =>
      (0L until (if (d % 2 == 1) 3L else 1L)).map(i =>
        evd(100 * d + i, d, i, "click")))
    val b2 = (5L to 6L).flatMap(d =>
      (0L until (if (d % 2 == 1) 3L else 1L)).map(i =>
        evd(100 * d + i, d, i, "click"))) ++
      (0L until 10L).map(i => evd(700 + i, 7, i, "click")) ++
      Seq(evd(9999, 400, 0, "click"), // sentinel closes day 7
        evd(9000, 3, 0, "click"))     // LATE: older than the open day
    val late = spark.sparkContext.longAccumulator("anom_dropped_late")
    val ms = MemoryStream[Ev]
    val q = Streams.anomalyStream(ms.toDS(), droppedLate = Some(late))
      .writeStream.format("memory").queryName("anoms")
      .outputMode("append").start()
    try {
      ms.addData(b1); q.processAllAvailable()
      ms.addData(b2); q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("anoms").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getDouble(3)), r.getBoolean(4)))
    val day0 = 1700006400L / 86400L
    val zExp = BigDecimal(57.0 / math.sqrt(48.0))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got.toSeq === Seq(
      ("click", day0 + 7, 10L, Some(zExp), true)))
    assert(late.value === 1L, s"late counter ${late.value}")
  }

  test("anomalyStream agrees with q_anomaly on the real corpus " +
      "(sentinel-closed days)") {
    implicit val ctx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val events = graft.util.Tables(spark, sf).events
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
        col("value"))
      .as[Ev].collect().toSeq
    val maxTs = events.map(_.ts.getTime).max
    val sentinels = events.map(_.event_type).distinct.sorted.zipWithIndex
      .map { case (t, i) =>
        Ev(900000L + i, new java.sql.Timestamp(maxTs + 30L * 86400000L), 1, t, 0.0) }
    val sentinelDay =
      Math.floorDiv(Math.floorDiv(maxTs + 30L * 86400000L, 1000L), 86400L)
    val ms = MemoryStream[Ev]
    ms.addData(events ++ sentinels)
    val q = Streams.anomalyStream(ms.toDS())
      .writeStream.format("memory").queryName("anomcorpus")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("anomcorpus")
      .orderBy("event_type", "day").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getDouble(3)),
        r.getBoolean(4))).toSeq
    assert(streamed.forall(_._2 < sentinelDay),
      "the open sentinel day must never be scored")
    val batch = graft.queries.EventQueries.qAnomaly(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getDouble(3)),
        r.getBoolean(4))).toSeq
    assert(streamed === batch)
    assert(streamed.nonEmpty)
  }

  test("sessionizeStream: closed sessions match batch sessionization") {
    implicit val ctx = spark.sqlContext
    import spark.implicits._
    // user 1: two sessions (gap 45 min > 30); user 2: one session
    val real = Seq(
      ev(1, 0, 1), ev(2, 5, 1), ev(3, 50, 1),
      ev(4, 0, 2), ev(5, 20, 2))
    // sentinel far in the future pushes the watermark so real sessions close
    val sentinel = ev(99, 10000, 9999)
    val ms = MemoryStream[Ev]
    val q = Streams.sessionizeStream(ms.toDS(), 30)
      .writeStream.format("memory").queryName("sess")
      .outputMode("append").start()
    try {
      ms.addData(real)
      q.processAllAvailable()
      ms.addData(Seq(sentinel))
      q.processAllAvailable()
      // one more empty-ish batch so event-time timeouts fire
      ms.addData(Seq(ev(100, 10001, 9999)))
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("sess")
      .filter(col("user_id") =!= 9999L)
      .select("user_id", "n_events", "start_s", "end_s", "duration_s")
      .orderBy("user_id", "start_s").collect()
    val batch = Streams.sessionizeBatch(real.toDF(), 30)
      .select("user_id", "n_events", "start_s", "end_s", "duration_s")
      .orderBy("user_id", "start_s").collect()
    assert(streamed.toSeq === batch.toSeq)
    assert(batch.length === 3)
  }

  test("windowAgg append mode drops data later than the watermark") {
    implicit val ctx = spark.sqlContext
    import spark.implicits._
    val ms = MemoryStream[Ev]
    val q = Streams.windowAgg(ms.toDS().toDF().withWatermark("ts", "10 minutes"))
      .writeStream.format("memory").queryName("wlate")
      .outputMode("append").start()
    try {
      ms.addData(Seq(ev(1, 0, 1), ev(2, 5, 1)))
      q.processAllAvailable()
      // advance watermark far past the first window (+10 min delay)
      ms.addData(Seq(ev(3, 500, 2)))
      q.processAllAvailable()
      // now arrive LATE into the long-closed first window: must be dropped
      ms.addData(Seq(ev(4, 1, 3)))
      q.processAllAvailable()
      // and push the last window closed so counts are final
      ms.addData(Seq(ev(5, 1000, 4)))
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("wlate").collect()
    assert(rows.nonEmpty)
    val firstWs = rows.map(_.getLong(0)).min
    // first hour window: only the 2 on-time events, late event 4 excluded
    assert(rows.filter(_.getLong(0) == firstWs).map(_.getLong(2)).sum === 2L)
  }

  test("sessionize gap semantics agree at sub-second boundaries") {
    implicit val ctx = spark.sqlContext
    import spark.implicits._
    // true gap 1800.8s but second-TRUNCATED gap exactly 1800 -> same
    // session in both implementations (the unit-mismatch regression test)
    val base = 1700000000000L
    val real = Seq(
      Ev(1, new Timestamp(base + 100), 1, "click", 1.0),
      Ev(2, new Timestamp(base + 1800900), 1, "click", 1.0))
    val ms = MemoryStream[Ev]
    val q = Streams.sessionizeStream(ms.toDS(), 30)
      .writeStream.format("memory").queryName("sessb")
      .outputMode("append").start()
    try {
      ms.addData(real)
      q.processAllAvailable()
      ms.addData(Seq(ev(99, 10000, 9999), ev(100, 10001, 9999)))
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("sessb").filter(col("user_id") === 1L)
      .select("n_events", "start_s", "end_s").collect()
    val batch = Streams.sessionizeBatch(real.toDF(), 30)
      .select("n_events", "start_s", "end_s").collect()
    assert(batch.map(_.getLong(0)).toSeq === Seq(2L), "one 2-event session in batch")
    assert(streamed.toSeq === batch.toSeq)
  }

  test("sessionizeBatch on corpus: durations non-negative, events conserved") {
    val out = StreamQueries.streamSessionize(spark, sf)
    val total = out.agg(sum("n_events")).head().getLong(0)
    val nEvents = graft.util.Tables(spark, sf).events.count()
    assert(total === nEvents)
    assert(out.filter(col("duration_s") < 0).count() === 0)
  }

  test("enrich: streaming stream-static join equals batch enrichment") {
    implicit val ctx = spark.sqlContext
    import spark.implicits._
    val dim = Seq((1L, "gold"), (2L, "silver")).toDF("k", "tier")
    val events = Seq(ev(1, 0, 1), ev(2, 5, 1, "view", 2.0), ev(3, 10, 2))
    val ms = MemoryStream[Ev]
    ms.addData(events)
    val q = Streams.enrich(ms.toDS().toDF(), dim, "user_id", "k", "tier")
      .groupBy("tier").count()
      .writeStream.format("memory").queryName("enr")
      .outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("enr").orderBy("tier").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(streamed === Seq(("gold", 2L), ("silver", 1L)))
  }

  test("dedupStream key set equals batch firstEvents key set") {
    implicit val ctx = spark.sqlContext
    import spark.implicits._
    val events = Seq(
      ev(1, 0, 1), ev(2, 5, 1), ev(3, 1, 1, "view"),
      ev(4, 0, 2), ev(5, 9, 2), ev(6, 3, 2, "view"))
    val ms = MemoryStream[Ev]
    ms.addData(events)
    val q = Streams.dedupStream(ms.toDS().toDF(), Seq("user_id", "event_type"))
      .select("user_id", "event_type")
      .writeStream.format("memory").queryName("ddp")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val streamedKeys = spark.table("ddp").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    val batchKeys = Streams.firstEvents(events.toDF(), Seq("user_id", "event_type"))
      .collect().map(r => (r.getLong(2), r.getString(3))).toSet
    assert(streamedKeys === Set((1L, "click"), (1L, "view"),
      (2L, "click"), (2L, "view")))
    assert(streamedKeys === batchKeys)
  }

  test("firstEvents keeps the earliest event per key deterministically") {
    import spark.implicits._
    val events = Seq(ev(10, 5, 7), ev(11, 2, 7), ev(12, 2, 7, "view"))
    val out = Streams.firstEvents(events.toDF(), Seq("user_id", "event_type"))
      .collect().map(r => (r.getString(3), r.getLong(0))).toMap
    // within user 7/click: minute 2 beats minute 5
    assert(out === Map("click" -> 11L, "view" -> 12L))
  }

  test("session_window: streaming (append + watermark) equals batch grouping") {
    implicit val ctx = spark.sqlContext
    import spark.implicits._
    // user 1: two sessions (45-min gap); user 2: one session
    val real = Seq(
      ev(1, 0, 1), ev(2, 5, 1), ev(3, 50, 1), ev(4, 0, 2), ev(5, 20, 2))
    def sessionized(df: org.apache.spark.sql.DataFrame) = df
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("n_events"))
    val ms = MemoryStream[Ev]
    val q = sessionized(ms.toDS().toDF().withWatermark("ts", "30 minutes"))
      .writeStream.format("memory").queryName("sessnat")
      .outputMode("append").start()
    try {
      ms.addData(real)
      q.processAllAvailable()
      // sentinel far ahead pushes the watermark so real sessions emit
      ms.addData(Seq(ev(99, 10000, 9999)))
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("sessnat").filter(col("user_id") =!= 9999L)
      .orderBy("user_id", "n_events").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val batch = sessionized(real.toDF())
      .orderBy("user_id", "n_events").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(batch === Seq((1L, 1L), (1L, 2L), (2L, 2L)))
    assert(streamed === batch)
  }

  test("stream_range_join reproduces sessionize event counts exactly") {
    import org.apache.spark.sql.functions._
    val viaRange = StreamQueries.streamRangeJoin(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val viaSessions = Streams.sessionizeBatch(
        graft.util.Tables(spark, sf).events, 30)
      .select(col("user_id"), col("start_s"), col("n_events")).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(viaRange.nonEmpty && viaRange === viaSessions)
  }

  test("intervalJoin: streaming stream-stream join equals batch join") {
    implicit val ctx = spark.sqlContext
    import spark.implicits._
    // user 1: click at t0, errors at +2min (in) and +7min (out of 5-min window)
    // user 2: click at t0, no errors;  user 3: error with no click
    val clicks = Seq(ev(1, 0, 1), ev(2, 0, 2))
    val errors = Seq(ev(10, 2, 1, "error"), ev(11, 7, 1, "error"),
      ev(12, 3, 3, "error"))
    def shape(df: org.apache.spark.sql.DataFrame, side: String) =
      df.select(col("user_id").as(s"${side}_user"), col("ts").as(s"${side}_ts"))
    val msC = MemoryStream[Ev]; val msE = MemoryStream[Ev]
    val sc = shape(msC.toDS().toDF(), "c").withWatermark("c_ts", "1 minute")
    val se = shape(msE.toDS().toDF(), "e").withWatermark("e_ts", "1 minute")
    val q = Streams.intervalJoin(sc, se, "c_user", "e_user", "c_ts", "e_ts", 0L, 300L)
      .writeStream.format("memory").queryName("ivj").outputMode("append").start()
    try {
      msC.addData(clicks); msE.addData(errors)
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("ivj")
      .select("c_user", "c_ts", "e_ts").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2))).toSet
    val batch = Streams.intervalJoin(
        shape(clicks.toDF(), "c"), shape(errors.toDF(), "e"),
        "c_user", "e_user", "c_ts", "e_ts", 0L, 300L)
      .select("c_user", "c_ts", "e_ts").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2))).toSet
    assert(batch === Set((1L, clicks.head.ts, errors.head.ts)))
    assert(streamed === batch)
  }

  test("intervalJoin leftOuter: orphan emits null-padded only after watermark expiry") {
    implicit val ctx = spark.sqlContext
    import spark.implicits._
    // user 1: click with an error inside the 5-min window (matched);
    // user 2: click with NO error — its null-padded row may only emit
    // once the watermark proves no match can still arrive.
    val clicks = Seq(ev(1, 0, 1), ev(2, 0, 2))
    val errors = Seq(ev(10, 2, 1, "error"))
    def shape(df: org.apache.spark.sql.DataFrame, side: String) =
      df.select(col("user_id").as(s"${side}_user"), col("ts").as(s"${side}_ts"))
    val msC = MemoryStream[Ev]; val msE = MemoryStream[Ev]
    val sc = shape(msC.toDS().toDF(), "c").withWatermark("c_ts", "1 minute")
    val se = shape(msE.toDS().toDF(), "e").withWatermark("e_ts", "1 minute")
    val q = Streams.intervalJoin(sc, se, "c_user", "e_user", "c_ts", "e_ts",
        0L, 300L, joinType = "leftOuter")
      .writeStream.format("memory").queryName("ivjlo").outputMode("append").start()
    try {
      msC.addData(clicks); msE.addData(errors)
      q.processAllAvailable()
      // watermark hasn't passed t0 + 300 s yet: the orphan must be held
      assert(spark.table("ivjlo").filter(col("c_user") === 2L).count() === 0L)
      // sentinels far ahead on BOTH sides push the watermark past expiry
      msC.addData(Seq(ev(98, 1000, 9998)))
      msE.addData(Seq(ev(99, 1000, 9999, "error")))
      q.processAllAvailable()
      // exactly once, not once per subsequent batch
      msC.addData(Seq(ev(97, 1001, 9998)))
      q.processAllAvailable()
    } finally q.stop()
    assert(spark.table("ivjlo").filter(col("c_user") === 2L).count() === 1L)
    val streamed = spark.table("ivjlo").filter(col("c_user") < 100L)
      .select("c_user", "e_ts").collect()
      .map(r => (r.getLong(0), Option(r.getTimestamp(1)))).toSet
    val batch = Streams.intervalJoin(
        shape(clicks.toDF(), "c"), shape(errors.toDF(), "e"),
        "c_user", "e_user", "c_ts", "e_ts", 0L, 300L, joinType = "leftOuter")
      .select("c_user", "e_ts").collect()
      .map(r => (r.getLong(0), Option(r.getTimestamp(1)))).toSet
    assert(batch === Set((1L, Some(errors.head.ts)), (2L, None)))
    assert(streamed === batch)
  }

  test("stream_outer_join: orphan counts agree with inner-join complement") {
    import org.apache.spark.sql.functions._
    val outer = StreamQueries.streamOuterJoin(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(outer.nonEmpty)
    // users with pairs in the INNER join must show the same pair count
    val inner = StreamQueries.streamStreamJoin(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    inner.foreach { case (u, n) => assert(outer(u)._1 === n) }
    // every click-owning user appears; orphans only where no pair exists
    val clickUsers = graft.util.Tables(spark, sf).events
      .filter(col("event_type") === "click")
      .select("user_id").distinct().collect().map(_.getLong(0)).toSet
    assert(outer.keySet === clickUsers)
    outer.foreach { case (u, (pairs, orphans)) =>
      assert(pairs > 0L || orphans > 0L)
      if (!inner.contains(u)) assert(pairs === 0L)
    }
  }

  test("stream_topk: at most 3 per window, counts non-increasing by rank") {
    val rows = StreamQueries.streamTopk(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getLong(0)).foreach { case (_, grp) =>
      val byRank = grp.sortBy(_.getInt(3))
      assert(byRank.map(_.getInt(3)).toSeq === (1 to byRank.length))
      assert(byRank.length <= 3)
      val counts = byRank.map(_.getLong(2))
      assert(counts.zip(counts.tail).forall { case (a, b) => a >= b })
    }
  }

  test("stream_multi_sink drains the source once into three sinks") {
    val out = StreamQueries.streamMultiSink(spark, sf).collect()
    assert(out.map(_.getString(0)).toSeq === Seq("by_user", "clicks", "errors"))
    assert(out.forall(_.getLong(1) > 0))
  }

  test("sequenceMatchStream: state machine equals the batch lazy regex, " +
      "conversions span batch boundaries") {
    implicit val ctx = spark.sqlContext
    import spark.implicits._
    val types = Map('v' -> "view", 'c' -> "click", 'p' -> "purchase",
      'e' -> "error", 's' -> "signup")
    def journey(user: Long, s: String, base: Long): Seq[Streams.Ev] =
      s.zipWithIndex.map { case (ch, i) =>
        Streams.Ev(base + i, new java.sql.Timestamp(1700000000000L + i * 60000L),
          user, types(ch), 1.0) }
    // user 1: v c | p v c p  — first conversion COMPLETES across the
    // batch boundary; 2 total. user 2: v c e p → 0.
    val u1 = journey(1, "vcpvcp", 100)
    val u2 = journey(2, "vcep", 200)
    val ms = MemoryStream[Streams.Ev]
    val q = Streams.sequenceMatchStream(ms.toDS())
      .writeStream.format("memory").queryName("seqm")
      .outputMode("append").start()
    try {
      ms.addData(u1.take(2) ++ u2.take(2)); q.processAllAvailable()
      ms.addData(u1.drop(2) ++ u2.drop(2)); q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("seqm").orderBy("user_id", "n_conversion").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSeq === Seq((1L, 1L), (1L, 2L)))
    // corpus parity: replay the real events table in two halves; the
    // per-user max counter must equal the batch twin's regex count
    val evs = graft.util.Tables(spark, sf).events
      .orderBy("ts", "event_id")
      .collect().map(r => Streams.Ev(r.getLong(0),
        r.getTimestamp(1), r.getLong(2), r.getString(3), r.getDouble(4)))
    val ms2 = MemoryStream[Streams.Ev]
    val q2 = Streams.sequenceMatchStream(ms2.toDS())
      .writeStream.format("memory").queryName("seqm2")
      .outputMode("append").start()
    try {
      val (h1, h2) = evs.splitAt(evs.length / 2)
      ms2.addData(h1.toSeq); q2.processAllAvailable()
      ms2.addData(h2.toSeq); q2.processAllAvailable()
    } finally q2.stop()
    val streamed = spark.table("seqm2").groupBy("user_id")
      .agg(max("n_conversion").as("n")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val batch = graft.queries.EventQueries.qSequenceMatch(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getInt(1).toLong)
      .filter(_._2 > 0).toMap
    assert(streamed === batch,
      "streaming conversion counts must equal the batch regex twin")
  }

  test("multiSink: checkpointed restart resumes exactly-once, no batch replayed") {
    import spark.implicits._
    import java.nio.file.Files
    val srcDir = Files.createTempDirectory("graft_ms_src").toString
    val home = Files.createTempDirectory("graft_ms_out").toString
    val ckpt = Files.createTempDirectory("graft_ms_ckpt").toString
    def evs(ids: Range): Seq[Streams.Ev] = ids.map(i =>
      Streams.Ev(i.toLong, new java.sql.Timestamp(1700000000000L + i * 1000L),
        i.toLong % 3, "view", 1.0))
    def write(ids: Range): Unit =
      evs(ids).toDF().write.mode("append").parquet(srcDir)
    val schema = org.apache.spark.sql.Encoders.product[Streams.Ev].schema
    def run(): Unit = {
      val q = Streams.multiSink(
        spark.readStream.schema(schema).parquet(srcDir),
        home, Seq("all" -> identity), Some(ckpt))
      q.processAllAvailable(); q.stop()
    }
    write(1 to 50); run()
    val after1 = spark.read.parquet(s"$home/all").count()
    assert(after1 === 50L)
    // restart from the SAME checkpoint with new source files: previous
    // batches must not re-emit (their batch=N dirs stay as-is), new
    // data lands in a new batch dir, and no event duplicates anywhere
    write(51 to 80); run()
    val all = spark.read.parquet(s"$home/all")
    assert(all.count() === 80L, "no replay, no loss across the restart")
    assert(all.select("event_id").distinct().count() === 80L)
    val batchDirs = new java.io.File(s"$home/all").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("batch=")).map(_.getName)
    assert(batchDirs.length >= 2, s"expected per-batch dirs, got ${batchDirs.toSeq}")
  }

  test("cdcApplyStream: insert/update/delete against a seeded base, " +
      "stale arrivals can't regress, silence = keep") {
    implicit val ctx = spark.sqlContext
    import spark.implicits._
    val base = Seq((1L, 10.0), (2L, 20.0), (9L, 90.0))
      .toDF("user_id", "base_value")
    // b1: u1 updated, u3 inserted; b2: u2 tombstoned, u1 gets a STALE
    // older event (champion unchanged), u3 advances; u9 never changes
    val b1 = Seq(ev(1, 10, 1, "view", 5.555), ev(2, 10, 3, "view", 7.0))
    val b2 = Seq(ev(3, 20, 2, "error", 0.0), ev(4, 5, 1, "view", 99.0),
      ev(5, 20, 3, "click", 8.0))
    val ms = MemoryStream[Ev]
    val q = Streams.cdcApplyStream(ms.toDS(), base)
      .writeStream.format("memory").queryName("cdcs")
      .outputMode("update").start()
    def snapshot(): Map[Long, (String, Option[Double])] =
      spark.table("cdcs").collect()
        .map(r => r.getLong(0) ->
          ((r.getString(1), if (r.isNullAt(2)) None else Some(r.getDouble(2)))))
        .toMap
    try {
      ms.addData(b1); q.processAllAvailable()
      val after1 = snapshot()
      assert(after1 === Map(
        1L -> (("update", Some(5.56))), 3L -> (("insert", Some(7.0)))),
        s"batch 1: $after1")
      ms.addData(b2); q.processAllAvailable()
    } finally q.stop()
    // overlay: the LAST emission per key is the materialization; the
    // memory sink accretes update-mode rows, and here every batch-2
    // decision either equals batch 1's (u1 — stale event, champion
    // held) or is new (u2, u3), so the union collapses to the overlay
    val all = spark.table("cdcs").collect()
      .map(r => r.getLong(0) ->
        ((r.getString(1), if (r.isNullAt(2)) None else Some(r.getDouble(2)))))
    val finalState = all.toMap // later duplicates identical for u1
    assert(finalState === Map(
      1L -> (("update", Some(5.56))), // stale 99.0 did NOT regress it
      2L -> (("delete", None)),
      3L -> (("insert", Some(8.0))))) // u9 absent = keep
    assert(all.count(_._1 == 1L) === 2, "u1 re-emitted its held decision")
  }

  test("cdcApplyStream agrees with qCdcApply's non-keep rows on the " +
      "real corpus across a multi-batch replay") {
    implicit val ctx = spark.sqlContext
    import spark.implicits._
    val e = graft.util.Tables(spark, sf).events
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
        col("value"))
    val bounds = e.agg(min(unix_timestamp(col("ts"))).as("lo"),
      max(unix_timestamp(col("ts"))).as("hi")).collect()(0)
    val mid = bounds.getLong(0) + (bounds.getLong(1) - bounds.getLong(0)) / 2
    val base = Streams.latestBatch(e.filter(unix_timestamp(col("ts")) <= mid))
      .select(col("user_id"), col("last_value").as("base_value"))
    val changes = e.filter(unix_timestamp(col("ts")) > mid)
      .as[Ev].collect().toSeq.sortBy(c => (c.ts.getTime, c.event_id))
    val (half1, half2) = changes.splitAt(changes.size / 2)
    val ms = MemoryStream[Ev]
    val q = Streams.cdcApplyStream(ms.toDS(), base)
      .writeStream.format("memory").queryName("cdccorpus")
      .outputMode("update").start()
    def rows(): Array[(Long, (String, Option[Double]))] =
      spark.table("cdccorpus").collect()
        .map(r => r.getLong(0) ->
          ((r.getString(1), if (r.isNullAt(2)) None else Some(r.getDouble(2)))))
    var after1 = Map.empty[Long, (String, Option[Double])]
    try {
      ms.addData(half1); q.processAllAvailable()
      after1 = rows().toMap // one emission per key so far — unambiguous
      ms.addData(half2); q.processAllAvailable()
    } finally q.stop()
    // the memory sink accretes update-mode emissions; reconstruct the
    // LAST emission per key: a key with two distinct decisions got its
    // second from batch 2 (the one differing from its batch-1 row)
    val overlay = rows().groupBy(_._1).map { case (k, rs) =>
      val set = rs.map(_._2).toSet
      val fin = after1.get(k) match {
        case Some(v) if set.size > 1 => (set - v).head
        case Some(v) => v
        case None => set.head
      }
      k -> fin
    }
    val batchTwin = graft.queries.EventQueries.qCdcApply(spark, sf)
      .filter(col("action") =!= "keep").collect()
      .map(r => r.getLong(0) ->
        ((r.getString(1), if (r.isNullAt(2)) None else Some(r.getDouble(2)))))
      .toMap
    assert(overlay === batchTwin,
      s"stream/batch diverge: ${overlay.toSet diff batchTwin.toSet} | " +
        s"${batchTwin.toSet diff overlay.toSet}")
  }

  test("latestStream: multi-batch upsert matches batch twin, no regression") {
    implicit val ctx = spark.sqlContext
    import spark.implicits._
    val b1 = Seq(ev(1, 10, 1, "click", 1.0), ev(2, 5, 1, "view", 2.0))
    // e3 advances user 1; e5 is a STALE arrival (t15 < t20) that must
    // not regress the state; e4 introduces user 2
    val b2 = Seq(ev(3, 20, 1, "purchase", 9.0), ev(5, 15, 1, "view", 4.0),
      ev(4, 1, 2, "error", 0.5))
    val ms = MemoryStream[Ev]
    val q = Streams.latestStream(ms.toDS())
      .writeStream.format("memory").queryName("latest")
      .outputMode("update").start()
    try {
      ms.addData(b1); q.processAllAvailable()
      ms.addData(b2); q.processAllAvailable()
    } finally q.stop()
    val emitted = spark.table("latest")
      .select("user_id", "last_type", "last_value", "last_ts_s").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getLong(3)))
      .toSet
    // per-batch running latest: u1 = e1 after b1, e3 after b2; u2 = e4
    val t = (m: Long) => (1700000000000L + m * 60000L) / 1000L
    assert(emitted === Set(
      (1L, "click", 1.0, t(10)), (1L, "purchase", 9.0, t(20)),
      (2L, "error", 0.5, t(1))))
    // final state equals the batch twin over the full replay
    val batch = Streams.latestBatch((b1 ++ b2).toDF()).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getLong(3)))
      .toSet
    assert(batch === Set((1L, "purchase", 9.0, t(20)), (2L, "error", 0.5, t(1))))
  }

  test("knnStream: two-batch streaming search equals one batch search " +
      "over the union, batch dirs are idempotent-keyed") {
    implicit val ctx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val emb = graft.util.Tables(spark, sf).embeddings
      .select("vec_id", "embedding")
    val index = graft.sim.IvfIndex.fit(emb, "vec_id", "embedding",
      c = 8, iters = 2)
    index.assigned.persist()
    try {
      val qs = emb.filter(col("vec_id") < 6)
        .as[(Long, Seq[Float])].collect().sortBy(_._1)
      val out = graft.util.Staging.dir(spark, "knn_stream")
      val ms = MemoryStream[(Long, Seq[Float])]
      val q = Streams.knnStream(
        ms.toDS().toDF("vec_id", "embedding"), index,
        "vec_id", "embedding", k = 5, nProbe = 4, out)
      try {
        ms.addData(qs.take(3).toSeq); q.processAllAvailable()
        ms.addData(qs.drop(3).toSeq); q.processAllAvailable()
      } finally q.stop()
      def canon(df: org.apache.spark.sql.DataFrame) =
        df.select("query_id", "rank", "neighbor_id", "cos").collect()
          .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
          .sortBy(x => (x._1, x._2)).toSeq
      val streamed = spark.read.parquet(out)
      // two micro-batches → two idempotence-keyed partition dirs
      assert(streamed.select("batch").distinct().count() === 2)
      val batch = index.search(
        emb.filter(col("vec_id") < 6), "vec_id", "embedding", 5, 4)
      assert(canon(streamed) === canon(batch))
    } finally { index.assigned.unpersist(); () }
  }

  test("dedupIndexStreamSnapshot: same admissions as the flat stream, " +
      "with a mid-stream compaction publishing a new epoch under it") {
    implicit val ctx = spark.sqlContext
    import spark.implicits._
    import graft.dedup.{MinHashIndex, SnapshotIndex}
    def txt(words: String*): String = words.mkString(" ")
    val tA = txt("alpha", "beta", "gamma", "delta", "epsilon")
    val tC = txt("red", "green", "blue", "cyan", "magenta")
    val tD = txt("north", "south", "east", "west", "center")
    val tE = txt("iron", "copper", "zinc", "nickel", "cobalt")
    val root = graft.util.Staging.dir(spark, "dedup_snap_idx")
    val outDir = graft.util.Staging.dir(spark, "dedup_snap_out")
    SnapshotIndex.init(
      MinHashIndex.build(Seq((0L, tA)).toDF("doc_id", "text"),
        "doc_id", "text", n = 3), spark, root)
    val ms = MemoryStream[(Long, String)]
    val q = Streams.dedupIndexStreamSnapshot(
      ms.toDS().toDF("doc_id", "text"), root,
      "doc_id", "text", n = 3, tau = 0.8, outDir)
    try {
      // batch 0: 10 dup-of-seen (reject), 11/12 same new text (11
      // admitted, 12 intra-dropped), 13 unique (admitted)
      ms.addData(Seq((10L, tA), (11L, tC), (12L, tC), (13L, tD)))
      q.processAllAvailable()
      // a MAINTENANCE compaction publishes epoch 1 while the stream is
      // live — the next batch must probe the new epoch (which carried
      // batch 0's admissions forward) without missing anything
      assert(SnapshotIndex.compact(spark, root) === 1L)
      // batch 1: 20 dup of 11's text (reject via carried-forward
      // admissions), 21 unique (admitted)
      ms.addData(Seq((20L, tC), (21L, tE)))
      q.processAllAvailable()
    } finally q.stop()
    val admitted = spark.read.parquet(outDir)
      .select("batch", "doc_id").collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toSet
    assert(admitted === Set(0 -> 11L, 0 -> 13L, 1 -> 21L),
      "snapshot stream must admit exactly what the flat stream admits")
    // the current epoch's index answers probes for every admitted text
    val probeHits = MinHashIndex.probe(
        SnapshotIndex.load(spark, root).index,
        Seq((90L, tC), (91L, tD), (92L, tE)).toDF("doc_id", "text"),
        "doc_id", "text", n = 3, tau = 0.8)
      .select("new_id").distinct().collect().map(_.getLong(0)).toSet
    assert(probeHits === Set(90L, 91L, 92L))
  }

  test("dedupIndexBatch: a retried batch (append already landed) replays " +
      "the same admissions — docs are never rejected as their own dups") {
    import spark.implicits._
    val idxDir = graft.util.Staging.dir(spark, "dedup_retry_idx")
    val outDir = graft.util.Staging.dir(spark, "dedup_retry_out")
    graft.dedup.SnapshotIndex.init(
      graft.dedup.MinHashIndex.build(
        Seq((0L, "alpha beta gamma delta epsilon")).toDF("doc_id", "text"),
        "doc_id", "text", n = 3),
      spark, idxDir)
    val batch = Seq(
      (10L, "alpha beta gamma delta epsilon"),     // dup of seen → reject
      (11L, "one two three four five")).toDF("doc_id", "text")
    def run(): Set[Long] = {
      Streams.dedupIndexBatch(batch, idxDir, "doc_id", "text",
        n = 3, tau = 0.8, s"$outDir/batch=0")
      spark.read.parquet(s"$outDir/batch=0")
        .select("doc_id").collect().map(_.getLong(0)).toSet
    }
    val first = run()
    assert(first === Set(11L))
    // the crash-after-append retry: 11's bands are now IN the index;
    // without the self-match filter this replay would admit nothing
    val retried = run()
    assert(retried === first,
      "retry must replay identical admissions, not self-reject")
  }

  test("stateAtEventStream: point-in-time state lookup on a stream equals " +
      "the batch join; no covering interval → 'unknown'") {
    implicit val ctx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val intervals = Seq(
      (1L, "view", 10L, Some(30L)), (1L, "click", 30L, None))
      .toDF("i_user", "state", "from_s", "to_s")
      .select(col("i_user"), col("state"), col("from_s"),
        col("to_s").cast("long").as("to_s"))
    val ms = MemoryStream[(Long, Long, Long)]
    val q = Streams.stateAtEventStream(
        ms.toDS().toDF("user_id", "es", "cents"), intervals)
      .writeStream.format("memory").queryName("sae").outputMode("append")
      .start()
    try {
      ms.addData(Seq((1L, 5L, 100L), (1L, 20L, 200L)))
      q.processAllAvailable()
      // boundary cases across a second batch: es == from_s of the open
      // run (inclusive), es == to_s of the closed one (exclusive)
      ms.addData(Seq((1L, 30L, 300L), (2L, 50L, 400L)))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("sae").collect()
      .map(r => (r.getLong(1), r.getString(3))).toSet
    assert(got === Set((5L, "unknown"), (20L, "view"),
      (30L, "click"), (50L, "unknown")))
  }

  test("constraintsStream: per-batch audit rows — clean batch all zero, " +
      "dirty batch counts each planted violation") {
    implicit val ctx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val dim = Seq(1L, 2L).toDF("k")
    val out = graft.util.Staging.dir(spark, "dq_stream")
    val ms = MemoryStream[(Long, java.lang.Long, Double)]
    val q = Streams.constraintsStream(
      ms.toDS().toDF("event_id", "user_id", "value"),
      checks = Seq(
        "user_id complete" -> col("user_id").isNull,
        "value non-negative" -> (col("value") < 0)),
      referential = Some(("user_id", dim, "k")), out)
    try {
      // batch 0: clean
      ms.addData(Seq((1L, java.lang.Long.valueOf(1L), 5.0),
        (2L, java.lang.Long.valueOf(2L), 0.0)))
      q.processAllAvailable()
      // batch 1: one null fk, one dangling fk, one negative value
      ms.addData(Seq((3L, null.asInstanceOf[java.lang.Long], 1.0),
        (4L, java.lang.Long.valueOf(99L), -2.0),
        (5L, java.lang.Long.valueOf(1L), 3.0)))
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.read.parquet(out).collect()
      .map(r => (r.getInt(3), r.getString(0)) ->
        ((r.getLong(1), r.getLong(2)))).toMap
    assert(rows((0, "user_id complete")) === ((2L, 0L)))
    assert(rows((0, "value non-negative")) === ((2L, 0L)))
    assert(rows((0, "user_id -> k")) === ((2L, 0L)))
    assert(rows((1, "user_id complete")) === ((3L, 1L)))
    assert(rows((1, "value non-negative")) === ((3L, 1L)))
    // referential checks only non-null fks; 99 dangles
    assert(rows((1, "user_id -> k")) === ((2L, 1L)))
  }

  test("mvRefreshStream: read-time merge of batch partials equals the " +
      "one-shot aggregate; a replayed batch cannot double-count") {
    implicit val ctx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val stateDir = graft.util.Staging.dir(spark, "mv_stream")
    def partial(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
      df.groupBy(col("k")).agg(count(lit(1)).as("n"), sum(col("v")).as("s"),
        min(col("v")).as("mn"), max(col("v")).as("mx"))
    def merge(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
      df.groupBy(col("k")).agg(sum(col("n")).as("n"), sum(col("s")).as("s"),
        min(col("mn")).as("mn"), max(col("mx")).as("mx"))
    val batch1 = Seq(("a", 10L), ("a", 20L), ("b", 5L))
    val batch2 = Seq(("a", 1L), ("c", 7L))
    val ms = MemoryStream[(String, Long)]
    val q = Streams.mvRefreshStream(
      ms.toDS().toDF("k", "v"), stateDir, partial)
    try {
      ms.addData(batch1); q.processAllAvailable()
      ms.addData(batch2); q.processAllAvailable()
    } finally q.stop()
    def view(): Map[String, (Long, Long, Long, Long)] =
      Streams.readMv(spark, stateDir, merge).collect()
        .map(r => r.getString(0) ->
          ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    val got = view()
    val want = partial((batch1 ++ batch2).toDF("k", "v")).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(got === want)
    assert(got("a") === ((3L, 31L, 1L, 20L)))
    // replay: batch 1 restarts and rewrites ITS OWN partial — the
    // view must not change (overwrite, never append)
    partial(batch1.toDF("k", "v")).write.mode("overwrite")
      .parquet(s"$stateDir/batch=0")
    assert(view() === want, "a replayed batch must not double-count")

    // compaction: folds both partials into ONE batch=<maxId> dir, view
    // unchanged — the small-file/partial-count bound the doc promises
    val root = new org.apache.hadoop.fs.Path(stateDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def mvDirs: Set[String] = fs.listStatus(root).toSeq
      .filter(_.isDirectory).map(_.getPath.getName).toSet
    assert(Streams.compactMv(spark, stateDir, merge) === 2)
    assert(mvDirs === Set("batch=1"), s"staged swap left: $mvDirs")
    assert(view() === want, "compaction must not change the view")
    // idempotent no-op on a single partial
    assert(Streams.compactMv(spark, stateDir, merge) === 0)
    assert(view() === want)
    // crash recovery: a marker dir left by a crash BETWEEN staging and
    // swap (worst case: old batch dirs still present alongside the
    // full merged staging) must be installed, not merged twice
    partial((batch1 ++ batch2).toDF("k", "v")).write.mode("overwrite")
      .parquet(s"$stateDir/.compacting_upto=5")
    // simulate the crash leaving a stale covered batch dir behind
    fs.rename(new org.apache.hadoop.fs.Path(root, "batch=1"),
      new org.apache.hadoop.fs.Path(root, "batch=3"))
    assert(Streams.compactMv(spark, stateDir, merge) === 0)
    assert(mvDirs === Set("batch=5"), s"recovery left: $mvDirs")
    assert(view() === want, "recovered swap must hold the same view")
    // crash recovery, harder case: a crash DURING the staging write
    // leaves an UNCOMMITTED marker (no _SUCCESS) holding garbage.
    // Recovery must DISCARD it and re-merge from the batch dirs (all
    // still present — deletion only happens after commit), NOT install
    // the partial state over them.
    fs.rename(new org.apache.hadoop.fs.Path(root, "batch=5"),
      new org.apache.hadoop.fs.Path(root, "batch=2"))
    partial(Seq.empty[(String, Long)].toDF("k", "v")).write
      .mode("overwrite").parquet(s"$stateDir/batch=4")
    // the torn write: one corrupt partial row, no job-commit marker
    partial(Seq(("ZZZ", 999L)).toDF("k", "v")).write.mode("overwrite")
      .parquet(s"$stateDir/.compacting_upto=7")
    fs.delete(new org.apache.hadoop.fs.Path(root,
      ".compacting_upto=7/_SUCCESS"), false)
    assert(Streams.compactMv(spark, stateDir, merge) === 2)
    assert(mvDirs === Set("batch=4"), s"torn-write recovery left: $mvDirs")
    assert(view() === want,
      "a torn staging write must be discarded, never installed")
  }

  test("noveltyStream: checkpointed restart — committed crawls never " +
      "re-probe or re-append; the next batch measures novelty against " +
      "everything admitted before it") {
    import graft.dedup.NoveltyIndex
    val docs = util.Tables(spark, sf).documents
    val old = docs.filter(col("doc_id") % 3 === 0)
    val crawlA = docs.filter(col("doc_id") % 3 === 1)
    val crawlB = docs.filter(col("doc_id") % 3 === 2)
    val idxDir = java.nio.file.Files
      .createTempDirectory("graft-nvstream-idx").toString
    val srcDir = java.nio.file.Files
      .createTempDirectory("graft-nvstream-src").toString
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft-nvstream-ckpt").toString
    NoveltyIndex.init(spark, old, idxDir, "text", 3)

    // the closed-form expectations, computed OUTSIDE the stream: each
    // crawl's per-source novelty against corpus + everything admitted
    // before it (admission makes the index = corpus ∪ earlier crawls)
    def expected(crawl: org.apache.spark.sql.DataFrame,
        seen: org.apache.spark.sql.DataFrame) =
      NoveltyIndex.sourceGramHashes(crawl, "source", "text", 3).distinct()
        .join(NoveltyIndex.gramHashes(seen, "text", 3).distinct(),
          Seq("gh"), "left_anti")
        .groupBy(col("source")).agg(count(lit(1)).as("n"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val expA = expected(crawlA, old)
    val expB = expected(crawlB, old.unionByName(crawlA))

    val acc = scala.collection.mutable.Map[Long, Map[String, Long]]()
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "doc_id LONG, source STRING, text STRING")
    def run(): Unit = {
      val q = Streams.noveltyStream(
        spark.readStream.schema(schema).parquet(srcDir),
        idxDir, "source", "text", 3, checkpointDir = Some(ckpt)) {
        (id, rows) =>
          // batchId-keyed overwrite — the documented replay journaling
          acc(id) = rows.map(r => r.getString(0) -> r.getLong(2))
            .filter(_._2 > 0L).toMap
      }
      q.processAllAvailable(); q.stop()
    }
    def write(d: org.apache.spark.sql.DataFrame): Unit =
      d.select(col("doc_id"), col("source"), col("text"))
        .write.mode("append").parquet(srcDir)

    write(crawlA); run()
    assert(acc.size === 1)
    assert(acc.values.head === expA.filter(_._2 > 0L))
    assert(expA.values.sum > 0L, "fixture must plant novelty in crawl A")

    // restart from the SAME checkpoint with a new crawl file: crawl A
    // is committed — it must not re-probe (no new acc key for it) and
    // must not re-append (B's novelty already discounts A exactly once)
    write(crawlB); run()
    assert(acc.size === 2, s"exactly one new batch, got keys ${acc.keySet}")
    assert(acc(acc.keySet.max) === expB.filter(_._2 > 0L),
      "crawl B must be measured against corpus + crawl A")
    // the index holds exactly corpus ∪ A ∪ B (append ≡ rebuild)
    val gramSet = NoveltyIndex.load(spark, idxDir).grams
      .distinct().collect().map(_.getLong(0)).toSet
    val rebuilt = NoveltyIndex.gramHashes(docs, "text", 3)
      .distinct().collect().map(_.getLong(0)).toSet
    assert(gramSet === rebuilt)
  }

  test("noveltyStream: loading a small index and running one batch " +
      "launches no file-listing job, and the batch stays under 64 tasks") {
    import graft.dedup.NoveltyIndex
    import org.apache.spark.scheduler._
    implicit val ctx = spark.sqlContext
    import spark.implicits._
    val sc = spark.sparkContext
    val docs = util.Tables(spark, sf).documents
    val idxDir = java.nio.file.Files
      .createTempDirectory("graft-nvlist-idx").toString
    NoveltyIndex.init(spark, docs.filter(col("doc_id") % 2 === 0),
      idxDir, "text", 3)

    val descriptions = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val tasks = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        descriptions.add(Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse(""))
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        tasks.incrementAndGet()
    }
    def listings(): Seq[String] = descriptions.asScala.toSeq
      .filter(_.startsWith("Listing leaf files and directories"))
    sc.addSparkListener(listener)
    try {
      // the listener sees listing jobs: a 40-directory table (past
      // Spark's 32-path threshold) is listed by one
      val wide = java.nio.file.Files.createTempDirectory("graft-nvlist-wide").toString
      spark.range(40).select(col("id").as("v"), col("id").as("p"))
        .write.mode("overwrite").partitionBy("p").parquet(wide)
      TestBus.drain(sc); descriptions.clear()
      spark.read.parquet(wide)
      TestBus.drain(sc)
      assert(listings().nonEmpty, "control: a 40-bucket read must list by job")

      descriptions.clear()
      NoveltyIndex.load(spark, idxDir).grams.count()
      TestBus.drain(sc)
      assert(listings().isEmpty, s"load listed by job: ${listings()}")

      val feed = MemoryStream[(Long, String, String)]
      val rows = new java.util.concurrent.ConcurrentLinkedQueue[org.apache.spark.sql.Row]()
      val q = Streams.noveltyStream(feed.toDS().toDF("doc_id", "source", "text"),
          idxDir, "source", "text", 3) { (_, rs) => rs.foreach(rows.add) }
      try {
        val batch = docs.filter(col("doc_id") % 2 === 1)
          .select(col("doc_id"), col("source"), col("text")).as[(Long, String, String)]
          .collect().toSeq
        TestBus.drain(sc); descriptions.clear(); tasks.set(0)
        feed.addData(batch)
        q.processAllAvailable()
        TestBus.drain(sc)
      } finally q.stop()
      assert(!rows.isEmpty, "the batch must reach the sink")
      assert(listings().isEmpty, s"the batch listed by job: ${listings()}")
      assert(tasks.get() < 64, s"the batch ran ${tasks.get()} tasks")
    } finally sc.removeSparkListener(listener)
  }

  /** Per-source (n_grams, n_novel) of `crawl` recomputed against every
    * gram of `seen` — the closed form a novelty batch must equal.
    */
  private def novelty(crawl: org.apache.spark.sql.DataFrame,
      seen: org.apache.spark.sql.DataFrame): Map[String, (Long, Long)] = {
    import graft.dedup.NoveltyIndex
    NoveltyIndex.sourceGramHashes(crawl, "source", "text", 3).distinct()
      .join(NoveltyIndex.gramHashes(seen, "text", 3).distinct()
        .withColumn("seen", lit(true)), Seq("gh"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)), count_if(col("seen").isNull))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
  }

  test("noveltyStream reuses its held sketch only while the epoch and " +
      "its bloom files are unchanged: after a foreign append and after a " +
      "compaction the next batch still equals the recompute") {
    import graft.dedup.NoveltyIndex
    implicit val ctx = spark.sqlContext
    import spark.implicits._
    val docs = util.Tables(spark, sf).documents
      .select(col("doc_id"), col("source"), col("text"))
    val part = (0 to 4).map(m => docs.filter(col("doc_id") % 5 === m))
    val idxDir = java.nio.file.Files
      .createTempDirectory("graft-nvheld-idx").toString
    NoveltyIndex.init(spark, part(0), idxDir, "text", 3)

    val got = scala.collection.mutable.Map[Long, Map[String, (Long, Long)]]()
    val feed = MemoryStream[(Long, String, String)]
    val q = Streams.noveltyStream(feed.toDS().toDF("doc_id", "source", "text"),
        idxDir, "source", "text", 3) { (id, rows) =>
      got(id) = rows.map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    }
    var seen = part(0)
    def batch(crawl: org.apache.spark.sql.DataFrame, what: String): Unit = {
      val want = novelty(crawl, seen)
      feed.addData(crawl.as[(Long, String, String)].collect().toSeq)
      q.processAllAvailable()
      assert(got(got.keySet.max) === want, what)
      seen = seen.unionByName(crawl)
    }
    try {
      batch(part(1), "first batch")
      // a foreign appender admits part 2: its bloom row is a file the
      // stream does not hold, so the next batch must reload the sketch
      NoveltyIndex.append(spark, part(2), idxDir, "text", 3)
      seen = seen.unionByName(part(2))
      batch(part(2).unionByName(part(3)), "batch after a foreign append")
      assert(NoveltyIndex.compact(spark, idxDir) === 1L)
      batch(part(4).unionByName(part(1)), "batch after a compaction")
      batch(part(4), "warm batch")
    } finally q.stop()
    assert(got.size === 4)
    val snap = NoveltyIndex.load(spark, idxDir)
    Seq(snap, snap.copy(bloom = None)).foreach { s =>
      val rows = NoveltyIndex.probe(s, docs, "source", "text", 3).collect()
      assert(rows.map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
        .toMap === novelty(docs, seen), s"sketched = ${s.bloom.nonEmpty}")
    }
  }

  test("noveltyStream: a warm batch is one pinned probe pass, one rollup " +
      "and one write — at most 8 jobs and 4 SQL executions, each step " +
      "under its call-site job description") {
    import graft.dedup.NoveltyIndex
    import org.apache.spark.scheduler._
    import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
    implicit val ctx = spark.sqlContext
    import spark.implicits._
    val sc = spark.sparkContext
    val docs = util.Tables(spark, sf).documents
      .select(col("doc_id"), col("source"), col("text"))
    val idxDir = java.nio.file.Files
      .createTempDirectory("graft-nvjobs-idx").toString
    NoveltyIndex.init(spark, docs.filter(col("doc_id") % 3 === 0),
      idxDir, "text", 3)
    def crawl(m: Int) = docs.filter(col("doc_id") % 3 === m)
      .as[(Long, String, String)].collect().toSeq

    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val executions = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.add(Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse("<none>"))
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case x: SparkListenerSQLExecutionStart => executions.add(x.description); ()
        case _ =>
      }
    }
    val rows = new java.util.concurrent.ConcurrentLinkedQueue[org.apache.spark.sql.Row]()
    val feed = MemoryStream[(Long, String, String)]
    val q = Streams.noveltyStream(feed.toDS().toDF("doc_id", "source", "text"),
        idxDir, "source", "text", 3) { (_, rs) => rs.foreach(rows.add) }
    val (cold, warm) = (crawl(1), crawl(2))
    sc.addSparkListener(listener)
    try {
      // the first batch reads the sketch; the second reuses the held one
      feed.addData(cold)
      q.processAllAvailable()
      TestBus.drain(sc); jobs.clear(); executions.clear(); rows.clear()
      feed.addData(warm)
      q.processAllAvailable()
      TestBus.drain(sc)
    } finally { q.stop(); sc.removeSparkListener(listener) }
    val described = jobs.asScala.toSeq
    val listing = described.mkString("\n  ", "\n  ", "")
    assert(rows.asScala.exists(_.getLong(2) > 0L),
      "the warm batch must admit novel grams (so it writes)")
    assert(described.size <= 8,
      s"a warm batch ran ${described.size} jobs:$listing")
    assert(executions.size <= 4, s"a warm batch ran ${executions.size} SQL " +
      s"executions:${executions.asScala.mkString("\n  ", "\n  ", "")}\njobs:$listing")
    Seq("pin", "rollup", "write").foreach { step =>
      assert(described.exists(_ == s"NoveltyIndex.probeAndAdmit $step"),
        s"no job described as the $step step:$listing")
    }
  }

  test("manifestStream: streamed batch partials merge to the EXACT " +
      "batch export_manifest; compaction preserves the manifest") {
    implicit val ctx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val stateDir = graft.util.Staging.dir(spark, "manifest_stream")
    val docs = graft.util.Tables(spark, sf).documents
      .select(col("doc_id"), col("text"), col("n_chars"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    // the crawl arrives in three uneven batches
    val (b1, rest) = docs.splitAt(docs.length / 3)
    val (b2, b3) = rest.splitAt(rest.length / 2)
    val ms = MemoryStream[(Long, String, Long)]
    val q = Streams.manifestStream(
      ms.toDS().toDF("doc_id", "text", "n_chars"), stateDir,
      "doc_id", "text", seed = 42L, nShards = 16)
    try {
      Seq(b1, b2, b3).foreach { b =>
        ms.addData(b.toSeq); q.processAllAvailable() }
    } finally q.stop()
    def manifest(): Seq[(Long, Long, Long, Long)] =
      Streams.readManifest(spark, stateDir).orderBy(col("shard"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSeq
    val want = graft.queries.CurationQueries.exportManifest(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq
    assert(manifest() === want,
      "streamed manifest must equal the one-shot export bit-for-bit")
    // compacting the three batch partials into one changes nothing
    assert(Streams.compactMv(spark, stateDir,
      graft.ops.Manifest.merge) === 3)
    assert(manifest() === want, "compaction must preserve the manifest")
  }

  test("takedownStream: each batch scrubs the snapshot index under a " +
      "fresh epoch; audit trail lands; pinned readers keep their view") {
    implicit val ctx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.dedup.{MinHashIndex, SnapshotIndex}
    val docs = graft.util.Tables(spark, sf).documents
    val seen = docs.filter(pmod(col("doc_id"), lit(5)) < 4)
    val fresh = docs.filter(pmod(col("doc_id"), lit(5)) === 4)
    def probeSet(idx: MinHashIndex.Index): Set[(Long, Long)] =
      MinHashIndex.probe(idx, fresh, "doc_id", "text", n = 3, tau = 0.7)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val dir = java.nio.file.Files.createTempDirectory("graft-tdstream").toString
    val audit = java.nio.file.Files.createTempDirectory("graft-tdaudit").toString
    SnapshotIndex.init(
      MinHashIndex.build(seen, "doc_id", "text", n = 3), spark, dir)
    val before = probeSet(SnapshotIndex.load(spark, dir).index)
    assert(before.size >= 2, "need at least two matched seen ids")
    val Seq(t1, t2) = before.map(_._2).toSeq.sorted.take(2)
    val ms = MemoryStream[Long]
    val q = Streams.takedownStream(ms.toDS().toDF("doc_id"), dir, audit)
    var pinned: SnapshotIndex.Snapshot = null
    try {
      ms.addData(Seq(t1)); q.processAllAvailable()
      // pin between the batches: this reader must survive exactly one
      // further publish (retention = 1) and keep the epoch-1 view
      pinned = SnapshotIndex.load(spark, dir)
      assert(pinned.epoch === 1L)
      ms.addData(Seq(t2)); q.processAllAvailable()
    } finally q.stop()
    // two non-empty batches = two published epochs past 0
    assert(SnapshotIndex.currentEpoch(spark, dir) === 2L)
    val after = probeSet(SnapshotIndex.load(spark, dir).index)
    assert(after === before.filterNot(p => p._2 == t1 || p._2 == t2),
      "exactly the taken-down ids' pairs must vanish")
    // the mid-stream reader still sees the epoch-1 corpus (t1 gone,
    // t2 present) — isolated from the second scrub
    assert(probeSet(pinned.index) === before.filterNot(_._2 == t1),
      "pinned reader must be isolated from the later scrub")
    // audit trail: one (doc_id, epoch) row per removal, batch-keyed
    val trail = spark.read.parquet(audit)
      .select(col("doc_id"), col("epoch")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(trail === Set((t1, 1L), (t2, 2L)))
  }

  test("splitStream: stream assignment equals the batch mix_split " +
      "arithmetic; a re-delivered doc never migrates") {
    implicit val ctx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val seed = graft.queries.CurationQueries.SplitSeed
    val ms = MemoryStream[Long]
    val q = Streams.splitStream(ms.toDS().toDF("doc_id"), "doc_id", seed)
      .writeStream.format("memory").queryName("splits").outputMode("append")
      .start()
    try {
      ms.addData(0L until 300L)
      q.processAllAvailable()
      // re-delivery in a later batch: same doc, same assignment
      ms.addData(Seq(7L, 42L, 287L))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("splits").collect()
      .map(r => (r.getLong(0), r.getString(2)))
    val batch = graft.ops.ShuffleShard
      .splitAssign((0L until 300L).toDF("doc_id"), "doc_id", seed)
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    got.foreach { case (id, sp) =>
      assert(sp === batch(id), s"doc $id stream split != batch split") }
    // re-delivered docs appear twice with identical assignments
    assert(got.count(_._1 == 42L) === 2)
    assert(got.filter(_._1 == 42L).map(_._2).distinct.length === 1)
    // all three splits are actually exercised (id 287 is the first test-split id)
    assert(got.map(_._2).distinct.sorted === Seq("test", "train", "val"))
  }

  test("quarantineStream: clean rows and torn lines route per batch; " +
      "signatures replay; a replayed batch rewrites its own dirs") {
    implicit val ctx = spark.sqlContext
    import spark.implicits._
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def sig(line: String): Long =
      java.lang.Long.parseLong(md5hex(line).take(15), 16)
    // source_quarantine's exact fixture arithmetic, streamed in halves
    def full(id: Long) = s"""{"doc_id":$id,"source":"s${id % 3}","len":$id}"""
    def lineOf(id: Long) =
      if (id % 23 == 7) full(id).dropRight(3) else full(id)
    val ids = 0L until 200L
    val (b0, b1) = (ids.filter(_ % 2 == 0), ids.filter(_ % 2 == 1))
    val out = graft.util.Staging.dir(spark, "quarantine_stream")
    val ms = MemoryStream[String]
    val q = Streams.quarantineStream(ms.toDS().toDF("value"),
      "doc_id BIGINT, source STRING, len BIGINT", out)
    try {
      ms.addData(b0.map(lineOf)); q.processAllAvailable()
      // batch 1 additionally carries an EMPTY line (tombstone/producer
      // bug) — it must quarantine under the empty identity, never land
      // in the clean dir as a phantom all-null row
      ms.addData(b1.map(lineOf) :+ ""); q.processAllAvailable()
    } finally q.stop()
    // clean rows: typed, complete, batch-partitioned by arrival parity
    val clean = spark.read.parquet(s"$out/clean").collect()
      .map(r => (r.getLong(0), r.getAs[Int]("batch")))
    val wantClean = ids.filterNot(_ % 23 == 7)
    assert(clean.map(_._1).sorted === wantClean.sorted)
    clean.foreach { case (id, b) =>
      assert(b === (id % 2).toInt, s"doc $id landed in batch $b") }
    // quarantine: every torn line as-is + the empty line, with UTF-8
    // byte lengths and the replayed signatures
    val quar = spark.read.parquet(s"$out/quarantine").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val wantQuar = ids.filter(_ % 23 == 7).map(lineOf) :+ ""
    assert(quar.map(_._1).sorted === wantQuar.sorted)
    quar.foreach { case (line, n, s) =>
      assert(n === line.getBytes("UTF-8").length.toLong && s === sig(line)) }
    // nothing lost between the two routes
    assert(clean.length + quar.length === ids.length + 1)
  }

  test("quarantineStream corrupt-column collisions: a schema declaring " +
      "the internal name is rejected loudly; a user `_bad` column (and " +
      "a literal _bad JSON key) routes cleanly") {
    implicit val ctx = spark.sqlContext
    import spark.implicits._
    // the internal name in the caller's schema → loud, immediate
    val boom = intercept[IllegalArgumentException] {
      Streams.quarantineStream(
        MemoryStream[String].toDS().toDF("value"),
        s"doc_id BIGINT, ${Streams.QuarantineCorruptCol} STRING",
        graft.util.Staging.dir(spark, "quarantine_collide0"))
    }
    assert(boom.getMessage.contains(Streams.QuarantineCorruptCol))
    // a plain `_bad` column is the USER's business: declared in the
    // schema and carried as a literal JSON key, it must parse as a
    // clean typed column, never shadow corruption routing (the r10
    // advice scenario: the old internal name was exactly `_bad`)
    val out = graft.util.Staging.dir(spark, "quarantine_collide1")
    val ms = MemoryStream[String]
    val q = Streams.quarantineStream(ms.toDS().toDF("value"),
      "doc_id BIGINT, _bad STRING", out)
    try {
      ms.addData(Seq(
        """{"doc_id":1,"_bad":"user-data"}""",
        """{"doc_id":2,"_bad":null}""",
        """{"doc_id":3"""))
      q.processAllAvailable()
    } finally q.stop()
    val clean = spark.read.parquet(s"$out/clean")
      .select("doc_id", "_bad").collect()
      .map(r => (r.getLong(0), Option(r.getString(1)))).sortBy(_._1)
    assert(clean.toSeq === Seq((1L, Some("user-data")), (2L, None)),
      "user _bad values must come through as data, complete rows stay clean")
    val quar = spark.read.parquet(s"$out/quarantine")
      .select("line").collect().map(_.getString(0))
    assert(quar.toSeq === Seq("""{"doc_id":3"""),
      "only the genuinely torn line quarantines")
  }
}
