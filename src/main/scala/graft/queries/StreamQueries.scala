package graft.queries

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import graft.streaming.{Replay, Streams}
import graft.util.Tables

/** Structured Streaming coverage (SURVEY.md §2.7) over the events table.
  * Stateless faces (stream_window_agg, stream_hopping, …) run the
  * shared transforms in batch mode, what the DuckDB oracle checks;
  * their streaming behavior is spec-tested. The stateful faces run the
  * stream operators they name: stream_sessionize runs
  * `Streams.sessionizeStream`, stream_dedup `dedupStream`,
  * stream_latest `latestStream` and resample_stream `resampleStream`,
  * each fed through [[graft.streaming.Replay]] in event-time slices, so
  * the oracle checks what the stream emits. stream_multi_sink RUNS a
  * file-source query (AvailableNow → foreachBatch fan-out) and returns
  * the summary of what landed in the sinks.
  */
object StreamQueries {

  /** How many event-time slices a streamed face feeds the events table
    * in: the driver holds one slice at a time.
    */
  private val EventSlices = 3

  /** The events table as [[EventSlices]] slices of equal event-time
    * span, in time order, typed for the stream operators; with the
    * table's last event time (µs) and largest user id. Every event of
    * a slice is at or after every event of the slices before it, so a
    * stream operator's per-key delivery contract holds by construction.
    * An event without a time rides in the first slice, where the
    * operator meets it.
    */
  private def eventSlices(s: SparkSession, dir: String)
      : (Seq[Dataset[Streams.Ev]], Long, Long) = {
    import s.implicits._
    val e = Tables(s, dir).events.select(col("event_id"), col("ts"),
      col("user_id"), col("event_type"), col("value")).as[Streams.Ev]
    val b = e.agg(min(unix_micros(col("ts"))), max(unix_micros(col("ts"))),
      max(col("user_id"))).na.fill(0L).head()
    val step = (b.getLong(1) - b.getLong(0)) / EventSlices
    def cut(k: Int): Long = b.getLong(0) + step * k
    val us = coalesce(unix_micros(col("ts")), lit(Long.MinValue))
    val slices = (0 until EventSlices).map(k => e.filter(
      (lit(k == 0) || us >= cut(k)) &&
        (lit(k == EventSlices - 1) || us < cut(k + 1))))
    (slices, b.getLong(1), b.getLong(2))
  }

  def streamWindowAgg(s: SparkSession, dir: String): DataFrame =
    Streams.windowAgg(Tables(s, dir).events)
      .orderBy(col("ws"), col("event_type"))

  val streamWindowAggSql: String =
    """SELECT floor(epoch(date_trunc('hour', ts)))::BIGINT AS ws,
      |  event_type, count(*) AS n_events, round(sum(value), 2) AS sum_value
      |FROM events
      |GROUP BY 1, 2
      |ORDER BY ws, event_type""".stripMargin

  /** Hopping-window rollup (1 h windows every 15 min): the sliding
    * trend view the tumbling stream_window_agg can't give (a spike at
    * :59 splits across two tumbling hours but is whole in three of its
    * four hops). The DuckDB twin enumerates each event's 4 = size∕slide
    * epoch-aligned window starts with the same integer arithmetic
    * Spark's `window(ts, size, slide)` uses, so the oracle is exact.
    */
  def streamHopping(s: SparkSession, dir: String): DataFrame =
    Streams.hoppingAgg(Tables(s, dir).events)
      .orderBy(col("ws"), col("event_type"))

  val streamHoppingSql: String =
    """SELECT ws, event_type, count(*) AS n_events,
      |  round(sum(value), 2) AS sum_value
      |FROM (
      |  SELECT e.*,
      |    (floor(epoch(e.ts) / 900)::BIGINT - k.k) * 900 AS ws
      |  FROM events e
      |  CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS k) k)
      |GROUP BY ws, event_type
      |ORDER BY ws, event_type""".stripMargin

  /** Sessions (30 min gap) per user from `Streams.sessionizeStream`,
    * fed the events table in event-time slices. The stream holds each
    * user's open session until the watermark passes it, so two flush
    * slices follow the table: one sentinel event, for a user id the
    * table does not hold, a day past the last event, then one more to
    * trigger the event-time timeouts. The sentinel's rows are dropped.
    * `session_id` is the session's rank by start within its user,
    * which equals the oracle's cumulative `new_session` sum.
    */
  def streamSessionize(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val (slices, lastUs, maxUser) = eventSlices(s, dir)
    val sentinel = maxUser + 1
    val flush = Seq(1L, 2L).map(k => Seq(Streams.Ev(-k, new java.sql.Timestamp(
      lastUs / 1000L + k * 86400000L), sentinel, "flush", 0.0)).toDS())
    Replay.emitted(s, slices ++ flush, OutputMode.Append())(
        Streams.sessionizeStream(_, gapMinutes = 30))
      .filter(col("user_id") =!= sentinel)
      .withColumn("session_id", row_number().over(
        Window.partitionBy(col("user_id")).orderBy(col("start_s")))
        .cast("long"))
      .select(col("user_id"), col("session_id"), col("n_events"),
        col("start_s"), col("end_s"), col("duration_s"))
      .orderBy(col("user_id"), col("session_id"))
  }

  val streamSessionizeSql: String =
    """WITH e AS (
      |  SELECT user_id, event_id, ts,
      |    CASE WHEN lag(ts) OVER w IS NULL
      |           OR floor(epoch(ts))::BIGINT - floor(epoch(lag(ts) OVER w))::BIGINT > 1800
      |         THEN 1 ELSE 0 END AS new_session
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |s AS (
      |  SELECT user_id, ts,
      |    sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |                           ROWS UNBOUNDED PRECEDING)::BIGINT AS session_id
      |  FROM e)
      |SELECT user_id, session_id, count(*) AS n_events,
      |  floor(epoch(min(ts)))::BIGINT AS start_s,
      |  floor(epoch(max(ts)))::BIGINT AS end_s,
      |  floor(epoch(max(ts)))::BIGINT - floor(epoch(min(ts)))::BIGINT AS duration_s
      |FROM s
      |GROUP BY user_id, session_id
      |ORDER BY user_id, session_id""".stripMargin

  /** One readStream fanned to three sinks (the reference's `-multiple`
    * on a stream), then a summary of what landed — deterministic because
    * AvailableNow drains the source completely, so the oracle can state
    * the same aggregates straight off the batch table.
    *
    * Sinks and the staged source directory both live under
    * [[graft.util.Staging.dir]] (shared-FS-visible, shutdown-GC'd) —
    * the file streaming source wants a DIRECTORY, so the table file is
    * copied in through the Hadoop FileSystem API (a symlink does not
    * exist on object stores, and a driver-local temp dir is invisible
    * to executors on a real cluster).
    */
  def streamMultiSink(s: SparkSession, dir: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val home = graft.util.Staging.dir(s, "multisink")
    val srcDir = graft.util.Staging.dir(s, "multisink_src")
    val conf = s.sparkContext.hadoopConfiguration
    val from = new org.apache.hadoop.fs.Path(s"$dir/events.parquet")
    val to = new org.apache.hadoop.fs.Path(srcDir, "events.parquet")
    org.apache.hadoop.fs.FileUtil.copy(from.getFileSystem(conf), from,
      to.getFileSystem(conf), to, false, conf)
    // readStream demands an explicit schema: probe it from a batch read
    // of the same file, which already resolves whatever time unit the
    // parquet carries (nanos-as-long, micros NTZ, or tz-adjusted
    // TIMESTAMP); `Tables.normalizeEventTs` then canonicalizes `ts`
    // post-read, so the streaming time axis cannot diverge from batch
    val stream = Tables.normalizeEventTs(s.readStream
      .schema(s.read.parquet(s"$dir/events.parquet").schema).parquet(srcDir))
    val q = Streams.multiSink(stream, home, Seq(
      "clicks" -> (df => df.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("value"))),
      "errors" -> (df => df.filter(col("event_type") === "error" && col("value") > 5)
        .select(col("event_id"), col("user_id"), col("value"))),
      "by_user" -> (df => df.groupBy(col("user_id"))
        .agg(count(lit(1)).as("n"), sum(col("value")).as("v")))))
    q.awaitTermination()
    def landed(branch: String, total: org.apache.spark.sql.Column) =
      s.read.parquet(s"$home/$branch").agg(count(lit(1)).as("n_rows"),
          total.as("total"))
        .select(lit(branch).as("branch"), col("n_rows"), col("total"))
    val valueTotal = round(sum(col("value")), 2)
    landed("clicks", valueTotal).unionByName(landed("errors", valueTotal))
      .unionByName(landed("by_user", lit(null).cast("double")))
      .orderBy(col("branch"))
  }

  val streamMultiSinkSql: String =
    """SELECT * FROM (
      |  SELECT 'clicks' AS branch, count(*) AS n_rows,
      |         round(sum(value), 2) AS total
      |  FROM events WHERE event_type = 'click'
      |  UNION ALL
      |  SELECT 'errors', count(*), round(sum(value), 2)
      |  FROM events WHERE event_type = 'error' AND value > 5
      |  UNION ALL
      |  SELECT 'by_user', count(DISTINCT user_id), NULL
      |  FROM events)
      |ORDER BY branch""".stripMargin

  /** The ENGINE-NATIVE sessionization: `session_window` grouping (works
    * batch and streaming) instead of the hand-built lag-cumsum /
    * flatMapGroupsWithState pair. Subtlety mirrored in the oracle:
    * session_window merges at MICROsecond precision with a strict gap
    * (new session iff diff ≥ gap), while stream_sessionize's contract
    * is second-truncated with diff > gap — the two queries are
    * intentionally distinct operators with their own oracles.
    */
  def streamSessionNative(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir).events
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n_events"),
        unix_timestamp(min(col("ts"))).as("start_s"),
        unix_timestamp(max(col("ts"))).as("end_s"))
      .select(col("user_id"), col("start_s"), col("end_s"), col("n_events"))
      .orderBy(col("user_id"), col("start_s"))

  val streamSessionNativeSql: String =
    """WITH e AS (
      |  SELECT user_id, event_id, ts, epoch_ns(ts) // 1000 AS us,
      |    CASE WHEN lag(ts) OVER w IS NULL
      |           OR epoch_ns(ts) // 1000 - epoch_ns(lag(ts) OVER w) // 1000
      |              >= 1800000000
      |         THEN 1 ELSE 0 END AS new_session
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |s AS (
      |  SELECT user_id, ts,
      |    sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |                           ROWS UNBOUNDED PRECEDING)::BIGINT AS sid
      |  FROM e)
      |SELECT user_id, floor(epoch(min(ts)))::BIGINT AS start_s,
      |  floor(epoch(max(ts)))::BIGINT AS end_s, count(*) AS n_events
      |FROM s
      |GROUP BY user_id, sid
      |ORDER BY user_id, start_s""".stripMargin

  /** Stream-static enrichment: events joined to the customer dimension
    * (user_id ⊆ c_custkey in the synthetic data), rolled up by market
    * segment. The dim side is broadcast — the stream side never
    * shuffles. Batch mode is what the oracle checks; the streaming
    * path (same transform over a memory stream) is spec-tested.
    */
  def streamEnrich(s: SparkSession, dir: String): DataFrame = {
    val t = Tables(s, dir)
    Streams.enrich(t.events, t.customer, "user_id", "c_custkey", "c_mktsegment")
      .groupBy(col("c_mktsegment").as("segment"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value")), 2).as("sum_value"))
      .orderBy(col("segment"))
  }

  val streamEnrichSql: String =
    """SELECT c_mktsegment AS segment, count(*) AS n_events,
      |  round(sum(value), 2) AS sum_value
      |FROM events e JOIN customer c ON e.user_id = c.c_custkey
      |GROUP BY 1
      |ORDER BY segment""".stripMargin

  /** First-occurrence dedup per (user_id, event_type) from
    * `Streams.dedupStream`, fed the events table in event-time slices:
    * each key's first event by (ts, event_id), emitted once.
    */
  def streamDedup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Replay.emitted(s, eventSlices(s, dir)._1, OutputMode.Append())(
        Streams.dedupStream(_, None))
      .select(col("user_id"), col("event_type"),
        unix_timestamp(col("ts")).as("first_s"), col("value"))
      .orderBy(col("user_id"), col("event_type"))
  }

  val streamDedupSql: String =
    """SELECT user_id, event_type, floor(epoch(ts))::BIGINT AS first_s, value
      |FROM events
      |QUALIFY row_number() OVER (PARTITION BY user_id, event_type
      |                           ORDER BY ts, event_id) = 1
      |ORDER BY user_id, event_type""".stripMargin

  /** Range join: every event assigned to its containing session
    * interval via the bin-bucketed equi-join (RangeJoin.binned, 30-min
    * bins ≈ the session gap) — and the per-interval event counts must
    * reproduce sessionize's n_events exactly, which the oracle checks
    * with a plain BETWEEN range join in DuckDB.
    */
  def streamRangeJoin(s: SparkSession, dir: String): DataFrame = {
    val events = Tables(s, dir).events
      .select(col("user_id"), unix_timestamp(col("ts")).as("es"))
    val sessions = Streams.sessionizeBatch(Tables(s, dir).events, gapMinutes = 30)
      .select(col("user_id"), col("start_s"), col("end_s"))
    graft.ops.RangeJoin.binned(events, sessions, "es", "start_s", "end_s",
        keys = Seq("user_id"), binWidth = 1800L)
      .groupBy(col("user_id"), col("start_s"))
      .agg(count(lit(1)).as("n_in_range"))
      .orderBy(col("user_id"), col("start_s"))
  }

  val streamRangeJoinSql: String =
    """WITH e AS (
      |  SELECT user_id, event_id, ts,
      |    CASE WHEN lag(ts) OVER w IS NULL
      |           OR floor(epoch(ts))::BIGINT - floor(epoch(lag(ts) OVER w))::BIGINT > 1800
      |         THEN 1 ELSE 0 END AS new_session
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |s AS (
      |  SELECT user_id, ts,
      |    sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |                           ROWS UNBOUNDED PRECEDING)::BIGINT AS session_id
      |  FROM e),
      |iv AS (
      |  SELECT user_id, floor(epoch(min(ts)))::BIGINT AS start_s,
      |    floor(epoch(max(ts)))::BIGINT AS end_s
      |  FROM s GROUP BY user_id, session_id),
      |pts AS (SELECT user_id, floor(epoch(ts))::BIGINT AS es FROM events)
      |SELECT p.user_id, iv.start_s, count(*) AS n_in_range
      |FROM pts p JOIN iv ON p.user_id = iv.user_id
      |  AND p.es BETWEEN iv.start_s AND iv.end_s
      |GROUP BY p.user_id, iv.start_s
      |ORDER BY p.user_id, iv.start_s""".stripMargin

  /** Semi-structured payloads: parse the props JSON column natively
    * (get_json_object — codegen'd Jackson path eval, no UDF) and
    * aggregate by a derived bucket. The everyday "events carry a JSON
    * blob" pipeline stage.
    */
  def eventsJson(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir).events
      // floor(), not cast-truncation: matches DuckDB's // for negatives too
      .select(floor(get_json_object(col("props"), "$.k").cast("long") / 10)
          .cast("long").as("k_decile"),
        col("value"))
      .groupBy(col("k_decile"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
      .orderBy(col("k_decile"))

  val eventsJsonSql: String =
    """SELECT (json_extract(props, '$.k')::BIGINT // 10) AS k_decile,
      |  count(*) AS n, round(sum(value), 2) AS sum_value
      |FROM events
      |GROUP BY 1
      |ORDER BY k_decile""".stripMargin

  /** Errors within 5 minutes after a click by the same user, joined
    * by `Streams.intervalJoin` as `joinType`.
    */
  private def clickErrors(s: SparkSession, dir: String,
      joinType: String): DataFrame = {
    val ev = Tables(s, dir).events
    def side(typ: String, p: String) = ev.filter(col("event_type") === typ)
      .select(col("user_id").as(s"${p}_user"), col("ts").as(s"${p}_ts"))
    Streams.intervalJoin(side("click", "c"), side("error", "e"), "c_user",
      "e_user", "c_ts", "e_ts", lowerSec = 0L, upperSec = 300L, joinType)
  }

  /** Stream-stream interval join (batch mode for the oracle; the
    * watermarked streaming run of the same transform is spec-tested):
    * every error within 5 minutes AFTER a click by the same user,
    * rolled up per user. Microsecond-precision BETWEEN on both engines
    * (ns→us truncation is identical), gaps reported in whole seconds.
    */
  def streamStreamJoin(s: SparkSession, dir: String): DataFrame =
    clickErrors(s, dir, "inner")
      .select(col("c_user").as("user_id"),
        (unix_timestamp(col("e_ts")) - unix_timestamp(col("c_ts"))).as("gap_s"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_pairs"),
        min(col("gap_s")).as("min_gap_s"), max(col("gap_s")).as("max_gap_s"))
      .orderBy(col("user_id"))

  val streamStreamJoinSql: String =
    """SELECT c.user_id, count(*) AS n_pairs,
      |  min(floor(epoch(e.ts))::BIGINT - floor(epoch(c.ts))::BIGINT) AS min_gap_s,
      |  max(floor(epoch(e.ts))::BIGINT - floor(epoch(c.ts))::BIGINT) AS max_gap_s
      |FROM (SELECT user_id, ts FROM events WHERE event_type = 'click') c
      |JOIN (SELECT user_id, ts FROM events WHERE event_type = 'error') e
      |  ON c.user_id = e.user_id
      |  AND e.ts >= c.ts AND e.ts <= c.ts + INTERVAL 300 SECOND
      |GROUP BY c.user_id
      |ORDER BY c.user_id""".stripMargin

  /** Trending top-k: per tumbling hour, the 3 most frequent event types.
    * The rank stage carries exactly ONE window function, so it compiles
    * to WindowGroupLimit — each partition keeps only k rows per window
    * BEFORE the exchange (the 100 TB difference between "sort every
    * group" and "carry k rows"). In streaming this shape runs as the
    * windowed count (append mode + watermark) with the per-window rank
    * applied to each CLOSED window in foreachBatch — counts are the
    * stateful part; rank is stateless per emitted window.
    */
  def streamTopk(s: SparkSession, dir: String): DataFrame = {
    val counts = Tables(s, dir).events
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .select(unix_timestamp(col("w.start")).as("ws"),
        col("event_type"), col("n_events"))
    val rankW = org.apache.spark.sql.expressions.Window
      .partitionBy(col("ws"))
      .orderBy(col("n_events").desc, col("event_type"))
    counts.withColumn("rank", row_number().over(rankW))
      .filter(col("rank") <= 3)
      .orderBy(col("ws"), col("rank"))
  }

  val streamTopkSql: String =
    """SELECT ws, event_type, n_events, rank FROM (
      |  SELECT ws, event_type, n_events,
      |    row_number() OVER (PARTITION BY ws
      |                       ORDER BY n_events DESC, event_type) AS rank
      |  FROM (
      |    SELECT floor(epoch(date_trunc('hour', ts)))::BIGINT AS ws,
      |      event_type, count(*) AS n_events
      |    FROM events GROUP BY 1, 2))
      |WHERE rank <= 3
      |ORDER BY ws, rank""".stripMargin

  /** CDC-style upsert materialization: latest event per user by
    * (event time, event_id) from `Streams.latestStream`, the
    * mapGroupsWithState Update-mode upsert, fed the events table in
    * event-time slices. Update mode re-emits each user a batch touched,
    * so the face keeps, per user, the row from the highest batch id.
    */
  def streamLatest(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Replay.emitted(s, eventSlices(s, dir)._1, OutputMode.Update())(
        Streams.latestStream)
      .withColumn("rn", row_number().over(Window.partitionBy(col("user_id"))
        .orderBy(col("batch_id").desc)))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("last_type"), col("last_value"),
        col("last_ts_s"))
      .orderBy(col("user_id"))
  }

  val streamLatestSql: String =
    """SELECT user_id, event_type AS last_type, value AS last_value,
      |  floor(epoch(ts))::BIGINT AS last_ts_s
      |FROM (
      |  SELECT *, row_number() OVER (PARTITION BY user_id
      |                               ORDER BY ts DESC, event_id DESC) AS rn
      |  FROM events)
      |WHERE rn = 1
      |ORDER BY user_id""".stripMargin

  /** Watermarked LEFT-OUTER stream-stream join — the stateful feature
    * stream_stream_join's inner form can't express: clicks that never
    * saw an error within the 5-minute window surface as null-padded
    * rows once the watermark proves no match can still arrive (event
    * time < watermark − 300 s). Per user: matched (click, error) pairs
    * vs orphan clicks. This batch twin runs the identical plan API
    * (`Streams.intervalJoin(..., joinType = "leftOuter")`); the
    * genuine-streaming behavior — null emission gated on watermark
    * expiry, exactly once — is pinned in StreamSpec. At 100 TB the
    * batch form is one equi hash join on user_id with the range as a
    * post-join filter; the streaming form holds only
    * watermark + 300 s of state per side.
    */
  def streamOuterJoin(s: SparkSession, dir: String): DataFrame =
    clickErrors(s, dir, "leftOuter")
      .groupBy(col("c_user").as("user_id"))
      .agg(count(col("e_ts")).as("n_pairs"),
        sum(when(col("e_ts").isNull, 1L).otherwise(0L)).as("n_orphans"))
      .orderBy(col("user_id"))

  val streamOuterJoinSql: String =
    """SELECT c.user_id, count(e.ts) AS n_pairs,
      |  sum(CASE WHEN e.ts IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_orphans
      |FROM (SELECT user_id, ts FROM events WHERE event_type = 'click') c
      |LEFT JOIN (SELECT user_id, ts FROM events WHERE event_type = 'error') e
      |  ON c.user_id = e.user_id
      |  AND e.ts >= c.ts AND e.ts <= c.ts + INTERVAL 300 SECOND
      |GROUP BY c.user_id
      |ORDER BY c.user_id""".stripMargin

  /** The split-assignment transform under Streams.splitStream, run in
    * batch mode over the documents table (the same shared-code pattern
    * as stream_window_agg); the streaming execution — memory-stream
    * micro-batches, re-delivery idempotence — is StreamSpec-gated. The
    * oracle proves the md5-bucket arithmetic; the spec proves batch ≡
    * stream on the same arithmetic.
    */
  def streamSplit(s: SparkSession, dir: String): DataFrame =
    Streams.splitStream(Tables(s, dir).documents, "doc_id",
        CurationQueries.SplitSeed)
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"), sum(col("doc_id")).as("sum_ids"),
        sum(col("bucket")).as("sum_bucket"))
      .orderBy(col("split"))

  val streamSplitSql: String =
    s"""WITH b AS (
       |  SELECT doc_id,
       |    ('0x' || substr(md5(doc_id::VARCHAR || ':${CurationQueries.SplitSeed}'), 1, 8))
       |      ::BIGINT % 100 AS bucket
       |  FROM documents)
       |SELECT CASE WHEN bucket < 97 THEN 'train'
       |            WHEN bucket < 99 THEN 'val'
       |            ELSE 'test' END AS split,
       |  count(*) AS n_docs, sum(doc_id)::BIGINT AS sum_ids,
       |  sum(bucket)::BIGINT AS sum_bucket
       |FROM b
       |GROUP BY 1
       |ORDER BY split""".stripMargin

  /** Cap on the [[resampleStreamFace]] fixture feed (the
    * AdmissionFeedBudget stride pattern — the driver-side collect is a
    * FIXTURE cost, so it is budget-bounded and the oracle replays the
    * stride arithmetic).
    */
  val ResampleFeedBudget = 5000L

  /** Streams.resampleStream's registered face — the streaming LOCF
    * lifecycle under the full hash oracle (previously spec-gated only):
    * the strided event feed arrives as three TIME-ORDERED batches (day
    * cuts at min+10 / min+20 — day-granular cuts satisfy the stream's
    * per-user no-regression delivery contract by construction) through
    * the REAL flatMapGroupsWithState query; emitted rows are each
    * user's CLOSED days (latest value + event count, gap days
    * forward-filled at n_events = 0; the open last day is withheld by
    * the append-mode contract), fed through [[graft.streaming.Replay]].
    * The oracle is the batch LOCF grid
    * (q_resample's arithmetic) over the same strided users, restricted
    * to days strictly before each user's last — hash equality proves
    * the one-key-at-a-time state fold reproduces the batch
    * sequence()+LOCF semantics across batch boundaries. State: one
    * 24-byte record per active user, forever.
    */
  def resampleStreamFace(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = Tables(s, dir).events
    val stride = math.max(1L,
      (e.count() + ResampleFeedBudget - 1) / ResampleFeedBudget)
    // keep the users at the MINIMUM observed remainder, not literal 0:
    // a corpus whose user ids share no multiple of the stride would
    // otherwise feed nothing (empty.min crash); min-remainder is
    // total, deterministic, and the oracle replays it. On an EMPTY
    // events table the min aggregate is NULL — the face is then the
    // empty grid (the oracle's CTEs all evaluate empty too), not an
    // NPE out of getLong
    val remRow = e.select(min(pmod(col("user_id"), lit(stride)))).head()
    if (remRow.isNullAt(0))
      return s.emptyDataset[Streams.DayRow](
        org.apache.spark.sql.Encoders.product[Streams.DayRow]).toDF()
    val keepRem = remRow.getLong(0)
    val feed = e.filter(pmod(col("user_id"), lit(stride)) === keepRem)
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value")).as[Streams.Ev]
    val day = floor(unix_seconds(col("ts")) / 86400L)
    val d0 = feed.agg(min(day)).head().getLong(0)
    val batches = Seq(feed.filter(day < d0 + 10),
      feed.filter(day >= d0 + 10 && day < d0 + 20),
      feed.filter(day >= d0 + 20))
    Replay.emitted(s, batches, OutputMode.Append())(
        Streams.resampleStream(_))
      .drop("batch_id")
      .orderBy(col("user_id"), col("day"))
  }

  val resampleStreamSql: String =
    s"""WITH st AS (
       |  SELECT greatest(1,
       |    (count(*) + ${ResampleFeedBudget - 1}) // $ResampleFeedBudget)
       |    AS stride
       |  FROM events),
       |f AS (
       |  SELECT user_id, event_id, value, ts FROM events
       |  WHERE user_id % (SELECT stride FROM st) =
       |    (SELECT min(user_id % stride) FROM events, st)),
       |e AS (
       |  SELECT user_id, event_id, value,
       |    floor(epoch(ts) / 86400)::BIGINT AS day, ts
       |  FROM f),
       |daily AS (
       |  SELECT user_id, day,
       |    max(CASE WHEN rn = 1 THEN value END) AS day_value,
       |    count(*) AS n_events
       |  FROM (
       |    SELECT e.*, row_number() OVER (PARTITION BY user_id, day
       |                                   ORDER BY ts DESC, event_id DESC) AS rn
       |    FROM e)
       |  GROUP BY user_id, day),
       |grid AS (
       |  SELECT user_id, unnest(generate_series(d0, d1 - 1)) AS day
       |  FROM (SELECT user_id, min(day) AS d0, max(day) AS d1
       |        FROM e GROUP BY user_id)
       |  WHERE d1 > d0)
       |SELECT g.user_id, g.day,
       |  last_value(daily.day_value IGNORE NULLS) OVER (
       |    PARTITION BY g.user_id ORDER BY g.day
       |    ROWS UNBOUNDED PRECEDING) AS filled_value,
       |  coalesce(daily.n_events, 0) AS n_events
       |FROM grid g LEFT JOIN daily
       |  ON daily.user_id = g.user_id AND daily.day = g.day
       |ORDER BY g.user_id, g.day""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "resample_stream" -> (resampleStreamFace _),
    "stream_split" -> (streamSplit _),
    "stream_outer_join" -> (streamOuterJoin _),
    "stream_latest" -> (streamLatest _),
    "stream_topk" -> (streamTopk _),
    "stream_stream_join" -> (streamStreamJoin _),
    "stream_window_agg" -> (streamWindowAgg _),
    "stream_hopping" -> (streamHopping _),
    "stream_sessionize" -> (streamSessionize _),
    "stream_multi_sink" -> (streamMultiSink _),
    "stream_enrich" -> (streamEnrich _),
    "stream_dedup" -> (streamDedup _),
    "stream_range_join" -> (streamRangeJoin _),
    "stream_session_native" -> (streamSessionNative _),
    "events_json" -> (eventsJson _))

  val oracleSql: Map[String, String] = Map(
    "resample_stream" -> resampleStreamSql,
    "stream_split" -> streamSplitSql,
    "stream_outer_join" -> streamOuterJoinSql,
    "stream_latest" -> streamLatestSql,
    "stream_topk" -> streamTopkSql,
    "stream_stream_join" -> streamStreamJoinSql,
    "stream_window_agg" -> streamWindowAggSql,
    "stream_hopping" -> streamHoppingSql,
    "stream_sessionize" -> streamSessionizeSql,
    "stream_multi_sink" -> streamMultiSinkSql,
    "stream_enrich" -> streamEnrichSql,
    "stream_dedup" -> streamDedupSql,
    "stream_range_join" -> streamRangeJoinSql,
    "stream_session_native" -> streamSessionNativeSql,
    "events_json" -> eventsJsonSql)
}
