package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState,
  GroupStateTimeout, OutputMode, StreamingQuery, Trigger}
import org.apache.spark.util.LongAccumulator

/** Structured-Streaming re-expression of the reference's streaming-job
  * surface (SURVEY.md §2.7). The design point: every transform here is
  * written once against DataFrame/Dataset and runs in BOTH batch and
  * streaming mode — the batch run is what the DuckDB oracle checks, the
  * streaming run is spec-tested with memory/file sources. That is the
  * Spark-first answer to the reference's "a pipeline is a pair of
  * executables": a pipeline is a plan, and the engine decides micro-batch
  * vs batch execution.
  */
object Streams {

  /** Tumbling event-time window aggregation by event type — works on a
    * batch OR streaming frame (add `withWatermark` upstream for
    * streaming). Window start exported as epoch seconds for oracle
    * parity across engines' timestamp conventions. A tumbling window is
    * a hopping one whose slide is its length (Spark's `window(ts, d)`
    * is `window(ts, d, d)`, the same plan).
    */
  def windowAgg(events: DataFrame, windowLen: String = "1 hour"): DataFrame =
    hoppingAgg(events, windowLen, windowLen)

  /** Hopping (sliding) window aggregation: each event lands in
    * size∕slide overlapping windows (Spark's `window(ts, size, slide)`
    * expands map-side — the per-row fan-out multiplies aggregate INPUT
    * rows, never shuffle bytes beyond the usual partial-agg state, so
    * it scales exactly like the tumbling form). Window starts are
    * epoch-aligned multiples of the slide, so the batch twin is pure
    * integer arithmetic any engine can reproduce. Works unchanged as a
    * streaming transform (watermark + append once the window closes);
    * spec-gated on a MemoryStream in StreamSpec.
    */
  def hoppingAgg(events: DataFrame, windowLen: String = "1 hour",
      slide: String = "15 minutes"): DataFrame =
    events
      .groupBy(window(col("ts"), windowLen, slide).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value")), 2).as("sum_value"))
      .select(unix_timestamp(col("w.start")).as("ws"),
        col("event_type"), col("n_events"), col("sum_value"))

  // ---- sessionization --------------------------------------------------

  /** Batch sessionization: sessions split on gaps > gapMinutes per user.
    * Classic lag → gap flag → running sum = session index; one shuffle
    * keyed by user_id (per-user windows, uniform unless one user
    * dominates — then AQE skew handling or pre-salting by day).
    * Deterministic: ties on ts broken by event_id in BOTH engines.
    */
  def sessionizeBatch(events: DataFrame, gapMinutes: Int): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val gapSec = gapMinutes * 60L
    events
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_ts").isNull ||
          unix_timestamp(col("ts")) - unix_timestamp(col("prev_ts")) > gapSec, 1L)
          .otherwise(0L))
      .withColumn("session_id", sum(col("new_session")).over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("session_id"))
      .agg(
        count(lit(1)).as("n_events"),
        unix_timestamp(min(col("ts"))).as("start_s"),
        unix_timestamp(max(col("ts"))).as("end_s"))
      .withColumn("duration_s", col("end_s") - col("start_s"))
  }

  /** One event as consumed by the streaming sessionizer. */
  final case class Ev(event_id: Long, ts: Timestamp, user_id: Long,
      event_type: String, value: Double)

  /** Closed session emitted by the streaming sessionizer. */
  final case class Session(user_id: Long, n_events: Long,
      start_s: Long, end_s: Long, duration_s: Long)

  /** Open-session state (public: the state encoder's generated code
    * needs constructor access).
    */
  final case class SessionState(nEvents: Long, startMs: Long, lastMs: Long)

  /** One closed SCD2 validity interval emitted by [[scd2Stream]]. */
  final case class Scd2Row(user_id: Long, run_id: Long, state: String,
      valid_from_s: Long, valid_to_s: Long, n_events: Long)

  /** Open-run state for [[scd2Stream]]: event times in microseconds,
    * the unit of its order key.
    */
  final case class Scd2State(runId: Long, stateType: String,
      fromUs: Long, n: Long, lastUs: Long)

  /** One closed day emitted by [[resampleStream]]. */
  final case class DayRow(user_id: Long, day: Long, filled_value: Double,
      n_events: Long)

  /** Open-day state for [[resampleStream]]: the day's latest value so
    * far and the (µs, event_id) order key of the event that set it.
    */
  final case class DayState(curDay: Long, lastValue: Double, n: Long,
      lastUs: Long, lastId: Long)

  // ---- the in-order state fold behind the stateful twins ----------------

  /** Event time at TimestampType's full microsecond precision:
    * Timestamp.getTime is millisecond-truncated, so two events within
    * the same millisecond would falsely tie, and the event_id tie-break
    * could order them differently than a batch plan ordering on `ts`.
    */
  private def micros(ts: Timestamp): Long =
    Math.floorDiv(ts.getTime, 1000L) * 1000000L + ts.getNanos / 1000L

  /** The batch twins' `ORDER BY ts, event_id`. */
  private def byMicros(e: Ev): (Long, Long) = (micros(e.ts), e.event_id)

  /** The one champion rule of [[latestStream]] and [[cdcApplyStream]]:
    * `e` is newer than the champion (`tsUs`, `eventId`) by (event time,
    * event_id), [[latestBatch]]'s order.
    */
  private def newer(e: Ev, tsUs: Long, eventId: Long): Boolean = {
    val t = micros(e.ts)
    t > tsUs || (t == tsUs && e.event_id > eventId)
  }

  /** Epoch day of an event (UTC). */
  private def dayOf(e: Ev): Long = Math.floorDiv(e.ts.getTime, 86400000L)

  /** The per-key, in-order state fold every Append-mode twin runs:
    * group by `key`, sort the micro-batch's events for each key by
    * `orderKey` (the twin's batch `ORDER BY`), and fold them one by one
    * through `step`, starting from the key's stored state (`init` for a
    * key never seen); `step` returns the next state and emits rows, in
    * event order, through its last argument. No timeout: state is one
    * record per active key (a production deployment adds an
    * idle-eviction timeout when the key space is unbounded —
    * [[sessionizeStream]] shows the EventTimeTimeout shape).
    *
    * '''Delivery contract''': per key, batches must not regress in the
    * order key. Within a batch the sort makes arrival order irrelevant;
    * but an event in a LATER batch that is older than what the state
    * has folded (`late`) cannot be stitched into already-emitted rows —
    * append mode has no retractions, and the CDC/Kafka-compacted sources
    * these twins consume are in order per key. Such cross-batch late
    * events are DROPPED (never folded into a bogus transition) and
    * COUNTED in `droppedLate`, so an operator alarms instead of
    * diverging from the batch twin; the batch query is the
    * reconciliation path. A key's first event is never late.
    */
  private def inOrder[K: Encoder, E, S: Encoder, O: Encoder](
      events: Dataset[E], key: E => K, orderKey: E => (Long, Long), init: S,
      droppedLate: Option[LongAccumulator], late: (S, E) => Boolean)(
      step: (K, S, E, O => Unit) => S): Dataset[O] =
    events.groupByKey(key)
      .flatMapGroupsWithState[S, O](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (k: K, it: Iterator[E], state: GroupState[S]) =>
          val out = Seq.newBuilder[O]
          var st = state.getOption.getOrElse(init)
          it.toSeq.sortBy(orderKey).foreach { e =>
            if (st != null && late(st, e)) droppedLate.foreach(_.add(1L))
            else st = step(k, st, e, out += _)
          }
          state.update(st)
          out.result().iterator
      }

  /** Streaming LOCF resampling — the incremental twin of the batch
    * daily-grid query (EventQueries.qResample): per user, track the
    * OPEN day in state; when an event for a later day arrives, emit
    * the closed day (its latest value + event count), then one
    * forward-filled row per gap day (value carried, n_events = 0) —
    * the batch twin's sequence()+LOCF semantics replayed one key at a
    * time. Append mode: the open day per user can't be emitted until a
    * later-day event proves it over (same closed-rows-only contract,
    * and the same parity-spec exclusion, as [[scd2Stream]]).
    *
    * Runs the [[inOrder]] fold and its delivery contract, ordered by
    * qResample's (ts, event_id); an event older by that order than the
    * last one folded is late — also on the open day, whose value it
    * would otherwise overwrite out of order. State is one 40-byte record
    * per active user.
    */
  def resampleStream(events: Dataset[Ev],
      droppedLate: Option[LongAccumulator] = None): Dataset[DayRow] = {
    val spark = events.sparkSession
    import spark.implicits._
    inOrder[Long, Ev, DayState, DayRow](events, _.user_id, byMicros, null,
        droppedLate, (s, e) => Ordering[(Long, Long)].lt(byMicros(e),
          (s.lastUs, s.lastId))) { (userId, s, e, emit) =>
      val d = dayOf(e)
      val (us, id) = byMicros(e)
      if (s == null) DayState(d, e.value, 1L, us, id)
      // in order ⇒ e is the day's latest event so far
      else if (d == s.curDay) DayState(d, e.value, s.n + 1, us, id)
      else {
        emit(DayRow(userId, s.curDay, s.lastValue, s.n))
        var g = s.curDay + 1
        while (g < d) { emit(DayRow(userId, g, s.lastValue, 0L)); g += 1 }
        DayState(d, e.value, 1L, us, id)
      }
    }
  }

  /** One completed conversion emitted by [[sequenceMatchStream]]. */
  final case class Conversion(user_id: Long, n_conversion: Long,
      completed_s: Long)

  /** Funnel-progress state for [[sequenceMatchStream]]: 0 = idle,
    * 1 = saw view, 2 = saw click (error resets to 0; purchase at 2
    * completes). `n` counts completed conversions so far.
    */
  final case class SeqState(stage: Int, n: Long)

  /** Streaming sequence matching — the incremental twin of
    * q_sequence_match's lazy regex: the lazy `v[^e]*?c[^e]*?p` IS a
    * 3-stage state machine (earliest completion, reset on error), and
    * a state machine is exactly what flatMapGroupsWithState holds: ONE
    * byte of progress + a counter per user, vs the batch twin's whole
    * journey string. Emits one row per COMPLETED conversion as it
    * happens (the real-time funnel alert shape); the per-user counter
    * makes batch parity checkable (max n_conversion per user ==
    * the batch twin's n_conversions).
    *
    * Runs the [[inOrder]] fold, ordered by the journey string's
    * (es, event_id) — whole seconds, then event_id (a regex over a
    * journey string is order-total; the state machine inherits it).
    * It detects no late events: batches must simply not regress.
    */
  def sequenceMatchStream(events: Dataset[Ev]): Dataset[Conversion] = {
    val spark = events.sparkSession
    import spark.implicits._
    def es(e: Ev): Long = Math.floorDiv(e.ts.getTime, 1000L)
    inOrder[Long, Ev, SeqState, Conversion](events, _.user_id,
        e => (es(e), e.event_id), SeqState(0, 0L), None, (_, _) => false) {
      (userId, st, e, emit) =>
        e.event_type match {
          case "error" => st.copy(stage = 0)
          case "view" if st.stage == 0 => st.copy(stage = 1)
          case "click" if st.stage == 1 => st.copy(stage = 2)
          case "purchase" if st.stage == 2 =>
            emit(Conversion(userId, st.n + 1, es(e)))
            SeqState(0, st.n + 1)
          case _ => st
        }
    }
  }

  /** Streaming SCD2 history build — the incremental twin of the batch
    * gaps-and-islands query (EventQueries.qScd2): per user, track the
    * OPEN run of unchanged event_type in state; when a different type
    * arrives, emit the closed interval (valid_to = the new run's first
    * event time, exactly the batch `lead()` semantics) and open the
    * next run. Append mode: only CLOSED intervals are emitted — the
    * open run per user is unknowable until its successor arrives,
    * which is also why the batch twin's open rows (valid_to NULL) are
    * excluded from the parity spec. State is one KB-scale record per
    * ACTIVE user.
    *
    * Runs the [[inOrder]] fold and its delivery contract, ordered by
    * qScd2's (ts, event_id) at microsecond precision; an event older
    * than the open run's last event is late — dropped and counted,
    * never fragmented into a bogus run.
    */
  def scd2Stream(events: Dataset[Ev],
      droppedLate: Option[LongAccumulator] = None): Dataset[Scd2Row] = {
    val spark = events.sparkSession
    import spark.implicits._
    def sec(us: Long): Long = Math.floorDiv(us, 1000000L)
    inOrder[Long, Ev, Scd2State, Scd2Row](events, _.user_id, byMicros, null,
        droppedLate, (s, e) => micros(e.ts) < s.lastUs) { (userId, s, e, emit) =>
      val t = micros(e.ts)
      if (s == null) Scd2State(1L, e.event_type, t, 1L, t)
      else if (s.stateType == e.event_type) s.copy(n = s.n + 1, lastUs = t)
      else {
        emit(Scd2Row(userId, s.runId, s.stateType, sec(s.fromUs), sec(t), s.n))
        Scd2State(s.runId + 1, e.event_type, t, 1L, t)
      }
    }
  }

  /** One click-or-purchase event as consumed by [[attributionStream]]:
    * pre-projected (campaign parsed, revenue in integer cents, event
    * time in epoch seconds) — the parity spec builds these from the
    * SAME projection the batch twin `EventQueries.qAttribution` uses,
    * so the two paths cannot parse differently.
    */
  final case class AttrEv(event_id: Long, es: Long, user_id: Long,
      is_click: Boolean, campaign: Long, cents: Long)

  /** Last-click carry state for [[attributionStream]]: 24 bytes per
    * user with any history. clickEs = −1 until the first click.
    */
  final case class AttrState(clickEs: Long, campaign: Long, lastEs: Long)

  /** One attributed purchase emitted by [[attributionStream]]. */
  final case class AttrRow(user_id: Long, event_id: Long, campaign: Long,
      cents: Long)

  /** Streaming last-touch attribution — the incremental twin of
    * `q_attribution`: state is the last click per user, and each
    * purchase emits its credited campaign the moment it arrives
    * instead of waiting for the batch recompute (the rollup over the
    * emitted rows is then an ordinary windowless aggregate). Semantics
    * match the batch plan exactly: a purchase outside `lookbackS` or
    * before any click credits campaign −1.
    *
    * Runs the [[inOrder]] fold and its delivery contract, ordered by
    * the batch plan's (es, event_id) — a same-second click with a
    * smaller event_id still attributes; an event strictly older than
    * the carried frontier is late, and for equal-second events the
    * event_id order must not split across batches.
    */
  def attributionStream(events: Dataset[AttrEv],
      lookbackS: Long = 7L * 86400L,
      droppedLate: Option[LongAccumulator] = None): Dataset[AttrRow] = {
    val spark = events.sparkSession
    import spark.implicits._
    inOrder[Long, AttrEv, AttrState, AttrRow](events, _.user_id,
        e => (e.es, e.event_id), AttrState(-1L, -1L, Long.MinValue),
        droppedLate, (s, e) => e.es < s.lastEs) { (userId, st, e, emit) =>
      if (e.is_click) AttrState(e.es, e.campaign, e.es)
      else {
        val camp =
          if (st.clickEs >= 0 && e.es - st.clickEs <= lookbackS) st.campaign
          else -1L
        emit(AttrRow(userId, e.event_id, camp, e.cents))
        st.copy(lastEs = e.es)
      }
    }
  }

  /** Rolling-baseline state for [[anomalyStream]]: the last (up to) 7
    * CLOSED days' counts per event type plus the open day. Constant
    * size — two 7-slot arrays and two longs per event type.
    */
  final case class AnomState(days: Array[Long], xs: Array[Long],
      openDay: Long, openX: Long)

  /** One scored day emitted by [[anomalyStream]] — the q_anomaly row
    * shape (z is null when the trailing baseline is flat).
    */
  final case class AnomRow(event_type: String, day: Long, x: Long,
      z: Option[Double], is_anomaly: Boolean)

  /** Streaming rolling z-score spike detection — the incremental twin
    * of `q_anomaly`: per event type the state carries the trailing 7
    * CLOSED daily counts (the rows −7..−1 baseline of the batch
    * window) and the open day's running count; a day is scored and
    * emitted the moment a newer day's first event closes it, using
    * exactly the batch decision algebra — x−μ > 2σ ⟺ nx−S > 0 ∧
    * (nx−S)² > 4(nQ−S²) in exact integer arithmetic (BigInt here:
    * Σx² squares past Long at production daily volumes, matching the
    * batch plan's DECIMAL(38,0) moments) — and one double division
    * for the reported z. Days are scored only once 7 closed days
    * precede them, and the open day is never scored (close it with a
    * newer event; the batch query is the reconciliation path).
    *
    * Runs the [[inOrder]] fold and its delivery contract per event
    * type; an event for a day older than the open day is late.
    */
  def anomalyStream(events: Dataset[Ev],
      droppedLate: Option[LongAccumulator] = None): Dataset[AnomRow] = {
    val spark = events.sparkSession
    import spark.implicits._
    inOrder[String, Ev, AnomState, AnomRow](events, _.event_type, byMicros,
        AnomState(Array.empty, Array.empty, Long.MinValue, 0L), droppedLate,
        (s, e) => dayOf(e) < s.openDay) { (etype, st, e, emit) =>
      val d = dayOf(e)
      if (st.openDay == Long.MinValue) st.copy(openDay = d, openX = 1L)
      else if (d == st.openDay) st.copy(openX = st.openX + 1L)
      else {
        // d closes the open day: score it once 7 closed days precede it
        val full = st.days.length == 7
        if (full) {
          val n = BigInt(7)
          val x = BigInt(st.openX)
          val sS = st.xs.map(BigInt(_)).sum
          val q = st.xs.map(v => BigInt(v) * BigInt(v)).sum
          val num = n * x - sS
          val den2 = n * q - sS * sS
          val z =
            if (den2 > 0)
              Some(BigDecimal(num.toDouble / math.sqrt(den2.toDouble))
                .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
            else None
          emit(AnomRow(etype, st.openDay, st.openX, z,
            num > 0 && num * num > den2 * 4))
        }
        val keepFrom = if (full) 1 else 0
        AnomState(st.days.drop(keepFrom) :+ st.openDay,
          st.xs.drop(keepFrom) :+ st.openX, d, 1L)
      }
    }
  }

  /** Streaming sessionization via flatMapGroupsWithState with event-time
    * timeout: state = the open session per user; a session closes (and
    * is emitted) when the watermark passes last-event + gap. The same
    * gap semantics as `sessionizeBatch` — specs assert the two agree on
    * a replayed stream.
    */
  def sessionizeStream(events: Dataset[Ev], gapMinutes: Int): Dataset[Session] = {
    val spark = events.sparkSession
    import spark.implicits._
    val gapSec = gapMinutes * 60L
    // second-truncated gap, matching sessionizeBatch's unix_timestamp
    // semantics exactly — a ms-precision gap here would split sessions
    // differently than batch for gaps within 1s of the boundary
    def sec(ms: Long): Long = Math.floorDiv(ms, 1000L)

    def flush(userId: Long, st: SessionState): Session =
      Session(userId, st.nEvents, sec(st.startMs), sec(st.lastMs),
        sec(st.lastMs) - sec(st.startMs))

    events
      .withWatermark("ts", s"$gapMinutes minutes")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, Session](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (userId: Long, it: Iterator[Ev], state: GroupState[SessionState]) =>
          if (it.isEmpty && state.hasTimedOut) {
            val out = state.getOption.map(flush(userId, _)).toSeq
            state.remove()
            out.iterator
          } else {
            val evs = it.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
            var closed = List.empty[Session]
            var st = state.getOption.orNull
            evs.foreach { e =>
              val t = e.ts.getTime
              st = st match {
                case null => SessionState(1L, t, t)
                case s if sec(t) - sec(s.lastMs) > gapSec =>
                  closed ::= flush(userId, s)
                  SessionState(1L, t, t)
                // min() on start: a late-but-within-watermark event from a
                // later micro-batch can precede the open session's start;
                // without it, start/duration diverge from sessionizeBatch
                case s => SessionState(s.nEvents + 1, math.min(s.startMs, t),
                  math.max(s.lastMs, t))
              }
            }
            state.update(st)
            // close the open session once the watermark passes last + gap
            state.setTimeoutTimestamp(st.lastMs + gapSec * 1000L)
            closed.reverseIterator
          }
      }
  }

  // ---- stream-static enrichment ---------------------------------------

  /** Stream-static join: enrich each event with dimension columns from a
    * static table — the everyday "attach customer attributes to the
    * clickstream" stage. Works identically on a batch or streaming
    * events frame (stream-static joins need no watermark). The dim side
    * is broadcast: dimension tables are executor-memory-sized by
    * design, so the stream side never shuffles — at 100 TB/day of
    * events that is the difference between a map-only enrichment and
    * repartitioning the firehose.
    */
  def enrich(events: DataFrame, dim: DataFrame, eventKey: String,
      dimKey: String, dimCols: String*): DataFrame =
    events.join(
      broadcast(dim.select((dimKey +: dimCols).map(col): _*)),
      col(eventKey) === col(dimKey))
      .drop(dimKey)

  // ---- streaming dedup -------------------------------------------------

  /** Batch/oracle form of first-occurrence dedup: the earliest event
    * (by event time, ties by event_id) per key set. Deterministic — this
    * is what the DuckDB oracle checks.
    */
  def firstEvents(events: DataFrame, keys: Seq[String]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col("ts"), col("event_id"))
    events.withColumn("graft_rn", row_number().over(w))
      .filter(col("graft_rn") === 1)
      .drop("graft_rn")
  }

  /** Streaming form: `dropDuplicates` on the keys with a watermark
    * bounding state. Keeps the first ARRIVING record per key (arrival
    * order, not event order — the streaming-native semantic), so specs
    * assert key-set equality with `firstEvents`, not row equality.
    * State per key lives until the watermark passes; without the
    * watermark the state store grows forever.
    */
  def dedupStream(events: DataFrame, keys: Seq[String],
      watermarkDelay: String = "1 hour"): DataFrame =
    events.withWatermark("ts", watermarkDelay)
      .dropDuplicates(keys)

  // ---- CDC-style latest-per-key upsert ---------------------------------

  /** Materialized latest state per key. */
  final case class Latest(user_id: Long, last_type: String,
      last_value: Double, last_ts_s: Long)

  /** Per-key champion (public: state encoder needs constructor access). */
  final case class LatestState(tsUs: Long, eventId: Long, typ: String,
      value: Double)

  /** Batch twin of the upsert materialization: the latest event per key
    * by (event time, event_id) — the table a CDC consumer keeps. One
    * row_number window on the key exchange; at 100 TB this compiles to
    * WindowGroupLimit (rank pushed before the exchange), so each map
    * task forwards one candidate row per key it sees, not its whole
    * partition.
    */
  def latestBatch(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").desc, col("event_id").desc)
    events.withColumn("graft_rn", row_number().over(w))
      .filter(col("graft_rn") === 1)
      .select(col("user_id"), col("event_type").as("last_type"),
        col("value").as("last_value"),
        unix_timestamp(col("ts")).as("last_ts_s"))
  }

  /** Streaming upsert via mapGroupsWithState (Update mode): state is one
    * champion record per key; each micro-batch folds its events in by
    * the same (ts, event_id) order as `latestBatch` — a stale or
    * out-of-order arrival can never regress the state — and re-emits the
    * key's current latest. No timeout: latest-value state is the product
    * (size = O(keys)), not a window to expire; specs assert parity with
    * the batch twin across multi-batch replays.
    */
  def latestStream(events: Dataset[Ev]): Dataset[Latest] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.groupByKey(_.user_id)
      .mapGroupsWithState[LatestState, Latest](GroupStateTimeout.NoTimeout()) {
        (uid: Long, it: Iterator[Ev], state: GroupState[LatestState]) =>
          var best = state.getOption.orNull
          it.foreach { e =>
            if (best == null || newer(e, best.tsUs, best.eventId))
              best = LatestState(micros(e.ts), e.event_id, e.event_type, e.value)
          }
          state.update(best)
          Latest(uid, best.typ, best.value, Math.floorDiv(best.tsUs, 1000000L))
      }
  }

  // ---- streaming CDC MERGE-apply ---------------------------------------

  /** Per-key CDC state: the base-snapshot value (if the key existed in
    * the materialized table) plus the champion change record so far
    * (public: state encoder needs constructor access).
    */
  final case class CdcState(hasBase: Boolean, baseValue: Double,
      hasChg: Boolean, tsUs: Long, eventId: Long, chgType: String,
      chgValue: Double)

  /** Current materialization decision for a changed key. */
  final case class CdcRow(user_id: Long, action: String,
      final_value: Option[Double])

  /** Streaming twin of the batch CDC MERGE-apply
    * (EventQueries.qCdcApply): state is SEEDED from the base snapshot
    * (the `initialState` overload of flatMapGroupsWithState — how a
    * streaming job takes over from an existing materialized table),
    * then each micro-batch folds its change events in latest-wins by
    * (event time, event_id) — the latestStream contract, so stale
    * arrivals can never regress the champion — and re-emits the key's
    * current MERGE decision in Update mode: 'error' champion ⇒ delete
    * (tombstone), champion on a based key ⇒ update, on an unbased key ⇒
    * insert. Keys with no change events are never invoked and never
    * emitted — they are the batch twin's 'keep' rows, represented by
    * silence (an upsert sink leaves them untouched). The decision is a
    * pure function of (base, champion), exactly the batch FULL OUTER
    * JOIN semantics, so replaying any batch split converges to the
    * batch answer — StreamSpec pins multi-batch parity on the real
    * corpus at qCdcApply's own midpoint split.
    *
    * State is one KB-scale record per key with history, the
    * materialization itself — like latestStream, nothing to expire.
    */
  def cdcApplyStream(changes: Dataset[Ev], base: DataFrame): Dataset[CdcRow] = {
    val spark = changes.sparkSession
    import spark.implicits._
    val empty = CdcState(hasBase = false, 0.0, hasChg = false,
      Long.MinValue, Long.MinValue, "", 0.0)
    val init = base
      .select(col("user_id").cast("long"), col("base_value").cast("double"))
      .as[(Long, Double)]
      .groupByKey(_._1)
      .mapValues(kv => empty.copy(hasBase = true, baseValue = kv._2))
    changes.groupByKey(_.user_id)
      .flatMapGroupsWithState[CdcState, CdcRow](
        OutputMode.Update(), GroupStateTimeout.NoTimeout(), init) {
        (uid: Long, it: Iterator[Ev], state: GroupState[CdcState]) =>
          var st = state.getOption.getOrElse(empty)
          it.foreach { e =>
            if (!st.hasChg || newer(e, st.tsUs, st.eventId))
              st = st.copy(hasChg = true, tsUs = micros(e.ts),
                eventId = e.event_id, chgType = e.event_type, chgValue = e.value)
          }
          state.update(st)
          if (!st.hasChg) Iterator.empty
          else if (st.chgType == "error")
            Iterator.single(CdcRow(uid, "delete", None))
          else {
            // same HALF_UP double rounding as the batch twin's round(,2)
            val fv = BigDecimal(st.chgValue)
              .setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble
            val action = if (st.hasBase) "update" else "insert"
            Iterator.single(CdcRow(uid, action, Some(fv)))
          }
      }
  }

  // ---- stream-stream interval join ------------------------------------

  /** Stream-stream (or batch-batch — same plan API) interval join: each
    * left row matched to right rows with the same key whose event time
    * falls in [left.ts + lowerSec, left.ts + upperSec]. The canonical
    * "error within 5 minutes of a click" correlation.
    *
    * Callers must rename columns so the two sides don't collide, and —
    * for STREAMING inputs — put `withWatermark` on both sides before
    * calling: the watermark plus this time-range predicate is exactly
    * what lets Spark expire join state (left rows older than
    * watermark − upperSec can never match again and are dropped). On
    * batch frames the same condition plans as an equi hash join on the
    * key with the range as a post-join filter; at extreme right-side
    * cardinality per key, [[graft.ops.RangeJoin.binned]] is the
    * bucketed alternative.
    *
    * `joinType` extends the same plan to the OUTER family
    * ("leftOuter" / "rightOuter" / "fullOuter"): in streaming, a left
    * row whose match window has fully expired under the watermark
    * (event time < watermark − upperSec) is emitted exactly once with
    * null right columns — the "click that never converted" shape. The
    * null side therefore arrives only as late as the watermark delay
    * plus the window width; in batch the same call is a plain outer
    * join with identical rows. Inner stays the default.
    */
  def intervalJoin(left: DataFrame, right: DataFrame,
      leftKey: String, rightKey: String, leftTs: String, rightTs: String,
      lowerSec: Long, upperSec: Long, joinType: String = "inner"): DataFrame =
    left.join(right,
      left(leftKey) === right(rightKey) &&
        right(rightTs) >= left(leftTs) + expr(s"INTERVAL '$lowerSec' SECOND") &&
        right(rightTs) <= left(leftTs) + expr(s"INTERVAL '$upperSec' SECOND"),
      joinType)

  // ---- micro-batch sinks --------------------------------------------------

  /** The one micro-batch sink every foreachBatch face starts: Append
    * mode, `body` run per (batch, batchId), and `checkpointDir` — when
    * given — as the query's checkpoint, the exactly-once progress record
    * a restart resumes from. Faces key their output by batchId
    * (overwrite of their own `batch=<id>` dir; noveltyStream hands the
    * id to its sink), so a retried batch REPLACES its partial output
    * instead of appending duplicates.
    */
  private def eachBatch(stream: DataFrame, checkpointDir: Option[String])(
      body: (DataFrame, Long) => Unit): DataStreamWriter[Row] = {
    val writer = stream.writeStream.outputMode(OutputMode.Append())
      .foreachBatch(body)
    checkpointDir.fold(writer)(writer.option("checkpointLocation", _))
  }

  // ---- multi-sink fan-out ---------------------------------------------

  /** The reference's `-multiple` on a stream: ONE readStream, N branch
    * plans, each writing its own sink directory — fanned out inside a
    * single foreachBatch so the source is read once per micro-batch
    * (the streaming twin of graft.pipeline.MultiPipeline). Branch jobs
    * are submitted concurrently over the persisted shared batch, so a
    * heavy branch doesn't serialize the others' sinks.
    *
    * Restart semantics: pass a durable `checkpointDir` for exactly-once
    * progress tracking; each branch writes its micro-batch into a
    * `batch=<id>` subdirectory with overwrite mode, so a retried batch
    * REPLACES its own partial output instead of appending duplicates
    * (batchId-keyed idempotence — the standard foreachBatch pattern).
    */
  def multiSink(stream: DataFrame, outputHome: String,
      branches: Seq[(String, DataFrame => DataFrame)],
      checkpointDir: Option[String] = None): StreamingQuery =
    eachBatch(stream, checkpointDir) { (batch, batchId) =>
      val shared = batch.persist()
      try graft.util.Par.all(branches.map { case (name, f) => () =>
          f(shared).write.mode("overwrite")
            .parquet(s"$outputHome/$name/batch=$batchId")
        })
      finally shared.unpersist()
    }.trigger(Trigger.AvailableNow()).start()

  /** Streaming incremental materialized-view maintenance —
    * q_mv_refresh's foreachBatch face. Each micro-batch's PARTIAL
    * aggregate (whatever `partial` computes: count/sum/min/max state
    * per group key) lands append-only in `stateDir/batch=<id>`;
    * batchId-keyed overwrite gives replay idempotence (a restarted
    * batch rewrites ITS OWN partial, it can never double-count — the
    * multiSink restart contract applied to aggregation state). The
    * VIEW is a read-time merge: [[readMv]] unions every batch partial
    * and re-aggregates with the MERGE functions (sum-of-counts,
    * sum-of-sums, min-of-mins, max-of-maxes — the q_mv_refresh
    * algebra). Periodic compaction (fold many batch partials into one
    * dir — source_compact's move applied to state) bounds the partial
    * count; each partial is group-key-scale, so the merge stays
    * KB–MB-sized however long the stream runs.
    */
  def mvRefreshStream(stream: DataFrame, stateDir: String,
      partial: DataFrame => DataFrame,
      checkpointDir: Option[String] = None): StreamingQuery =
    eachBatch(stream, checkpointDir) { (batch, batchId) =>
      partial(batch).write.mode("overwrite").parquet(s"$stateDir/batch=$batchId")
    }.start()

  /** The current view over [[mvRefreshStream]] state: union of all
    * batch partials (partition discovery surfaces `batch`; `merge`
    * must group by the view keys and apply the merge aggregates,
    * dropping the batch column).
    */
  def readMv(spark: org.apache.spark.sql.SparkSession, stateDir: String,
      merge: DataFrame => DataFrame): DataFrame =
    merge(spark.read.parquet(stateDir).drop("batch"))

  /** Compact [[mvRefreshStream]] state: fold every existing
    * `batch=<id>` partial into ONE `batch=<maxId>` partial, so the
    * partial count (and readMv's union width / small-file count) stays
    * bounded however long the stream runs — source_compact's move
    * applied to aggregation state. `mergePartial` must re-aggregate
    * partial rows to the SAME partial schema (for the q_mv_refresh
    * algebra: group by the keys; sum the counts, sum the sums, min the
    * mins, max the maxes) — the result is again a partial, mergeable
    * with every future batch.
    *
    * Single-maintainer contract (the same one every lake compaction
    * job runs under): call between triggers or while the stream is
    * stopped. Replay stays safe: the stream's next batchId is strictly
    * greater than every id folded here, so a restarted batch can only
    * overwrite a directory compaction already subsumed — never the
    * compacted state itself.
    *
    * Crash-safe staged swap: the merged partial is first written to a
    * dot-prefixed staging dir NAMED FOR its coverage
    * (`.compacting_upto=<maxId>` — invisible to partition discovery),
    * then the covered batch dirs are deleted, then the staging dir is
    * renamed in. A crash between those steps leaves the staging dir
    * holding the full merged state, and the NEXT call completes the
    * swap from the marker before doing anything else (deleting ids
    * ≤ maxId is idempotent) — no window loses data. A crash DURING
    * the staging write leaves a marker dir WITHOUT the `_SUCCESS`
    * job-commit flag; recovery distinguishes the two cases by that
    * flag — a committed marker is installed, an uncommitted one is
    * deleted and the batch dirs (all still present, since deletion
    * only ever happens after commit) are re-merged from scratch.
    *
    * Returns the number of batch partials folded (0 = nothing to do).
    */
  def compactMv(spark: org.apache.spark.sql.SparkSession, stateDir: String,
      mergePartial: DataFrame => DataFrame): Int = {
    import org.apache.hadoop.fs.Path
    val root = new Path(stateDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val StagingRe = "\\.compacting_upto=(\\d+)".r
    val BatchRe = "batch=(\\d+)".r
    def ls(): Seq[String] =
      if (!fs.exists(root)) Seq.empty
      else fs.listStatus(root).toSeq.filter(_.isDirectory).map(_.getPath.getName)
    def finishSwap(upto: Long): Unit = {
      ls().foreach {
        case BatchRe(id) if id.toLong <= upto =>
          fs.delete(new Path(root, s"batch=$id"), true); ()
        case _ => ()
      }
      fs.rename(new Path(root, s".compacting_upto=$upto"),
        new Path(root, s"batch=$upto")); ()
    }
    // recovery: a marker from a crashed previous call holds the full
    // merged state for ids <= its maxId ONLY if its write committed
    // (_SUCCESS present) — install committed markers, discard partial
    // ones (their covered batch dirs are all still present, because
    // deletion only ever happens after commit, so nothing is lost)
    ls().collect { case StagingRe(upto) => upto.toLong }.foreach { upto =>
      val marker = new Path(root, s".compacting_upto=$upto")
      if (fs.exists(new Path(marker, "_SUCCESS"))) finishSwap(upto)
      else { fs.delete(marker, true); () }
    }
    val batchIds = ls().collect { case BatchRe(id) => id.toLong }.sorted
    if (batchIds.size <= 1) return 0
    val maxId = batchIds.last
    val merged = mergePartial(spark.read.parquet(stateDir).drop("batch"))
    merged.write.mode("overwrite")
      .parquet(s"$stateDir/.compacting_upto=$maxId")
    finishSwap(maxId)
    batchIds.size
  }

  /** Streaming manifest maintenance — export_manifest's incremental
    * face, the missing half of the admission loop:
    * [[dedupIndexStreamSnapshot]] admits crawl batches into the corpus,
    * and the PUBLISHED manifest (per-shard row count / byte volume / XOR
    * content checksum that consumers validate deliveries against) must
    * track those admissions without ever re-scanning the corpus. Each
    * micro-batch rolls up its own nShards-row manifest partial
    * ([[graft.ops.Manifest.partial]] — the IDENTICAL arithmetic the
    * batch query runs); because counts and bytes sum and XOR checksums
    * XOR, the current manifest is the merge of the partials
    * ([[readManifest]]), and [[compactMv]] folds the accumulated batch
    * partials on whatever cadence bounds the state dir. Per batch the
    * cost is one scan of the BATCH; the state is nShards rows per batch
    * — KB-scale forever. Replay-idempotent via mvRefreshStream's
    * batchId-keyed overwrite.
    */
  def manifestStream(docs: DataFrame, stateDir: String, idCol: String,
      textCol: String, seed: Long, nShards: Int,
      checkpointDir: Option[String] = None): StreamingQuery =
    mvRefreshStream(docs, stateDir,
      b => graft.ops.Manifest.partial(b, idCol, textCol,
        seed, nShards),
      checkpointDir)

  /** The published manifest over [[manifestStream]] state: merge of
    * every batch partial, one row per shard.
    */
  def readManifest(spark: org.apache.spark.sql.SparkSession,
      stateDir: String): DataFrame =
    readMv(spark, stateDir, graft.ops.Manifest.merge)

  /** Streaming takedown — the governance loop at micro-batch cadence:
    * each arriving batch of doc ids is scrubbed from the
    * snapshot-isolated dedup index ([[graft.dedup.SnapshotIndex.remove]]
    * — ONE published epoch per non-empty batch, so in-flight probe jobs
    * finish on the snapshot they pinned and the next load sees the
    * scrub), and an audit record (doc_id, epoch) lands in
    * `auditDir/batch=<id>` — the compliance trail a takedown pipeline
    * must keep. Ids are collected driver-side per batch: takedown lists
    * are KB-scale by nature (the in-list contract of
    * [[graft.dedup.MinHashIndex.removeRewrite]]); a lake-scale purge
    * would swap in a broadcast anti-join rewrite.
    *
    * Replay: a retried batch re-removes the same ids (removal is
    * idempotent — absent ids no-op) and re-publishes an epoch; the
    * audit output is batchId-keyed overwrite, so the trail never
    * duplicates. The extra epoch from a retry only advances retention.
    */
  def takedownStream(ids: DataFrame, indexDir: String, auditDir: String,
      checkpointDir: Option[String] = None): StreamingQuery =
    eachBatch(ids, checkpointDir) { (batch, batchId) =>
      val idCol = batch.columns.head
      val list = batch.select(col(idCol).cast("long")).distinct()
        .collect().map(_.getLong(0)).toSeq.sorted
      if (list.nonEmpty) {
        val spark = batch.sparkSession
        import spark.implicits._
        val epoch = graft.dedup.SnapshotIndex.remove(spark, indexDir, list)
        list.map(i => (i, epoch)).toDF("doc_id", "epoch")
          .coalesce(1)
          .write.mode("overwrite").parquet(s"$auditDir/batch=$batchId")
      }
    }.start()

  /** The daily-crawl NOVELTY loop at micro-batch cadence — the
    * streaming face of [[graft.dedup.NoveltyIndex]]: each arriving
    * crawl batch is (1) PROBED against the persisted corpus gram index
    * (per-source novelty through the epoch's sketch and the exact
    * membership test — the full production tier stack), then (2)
    * ADMITTED (novel grams only), so the NEXT batch's
    * probe already sees this batch's grams: exactly the
    * acquisition-loop contract "novelty is measured against everything
    * admitted before you". `sink` receives each batch's probe rows
    * (|sources|-scale, collected — KB) keyed by batchId.
    *
    * Each batch is one [[graft.dedup.NoveltyIndex.probeAndAdmit]]:
    * one pinned probe pass, one rollup and one write. The query holds
    * its epoch's sketch from one batch to the next (a
    * [[graft.dedup.NoveltyIndex.HeldSketch]]: epoch, bloom file names,
    * merged sketch — this batch's own bloom row folded in), so a batch
    * reads the sketch only when `Epochs.current` or the listing of the
    * epoch's `bloom/` differs from what it holds: a foreign append, a
    * compaction, or the first batch.
    *
    * Replay caveat (documented, not hidden): append is retry-idempotent
    * (the index's physical-duplicate contract), but a batch RETRIED
    * after its append landed re-probes as fully seen — a production
    * deployment journals probe rows batchId-keyed (overwrite, the
    * takedownStream audit pattern) so a replayed batch's rows are
    * recognized by key, never double-reported. The registered face
    * drives this under MemoryStream + processAllAvailable, where each
    * batch runs exactly once.
    */
  def noveltyStream(crawl: DataFrame, indexDir: String,
      sourceCol: String, textCol: String, n: Int,
      checkpointDir: Option[String] = None)(
      sink: (Long, Seq[Row]) => Unit): StreamingQuery = {
    val held = new graft.dedup.NoveltyIndex.HeldSketch
    eachBatch(crawl, checkpointDir) { (batch, batchId) =>
      val spark = batch.sparkSession
      val snap = held.load(spark, indexDir)
      // scan-parallelism floor for the batch's gram pass: a memory /
      // file-source micro-batch arrives in as few as ONE partition,
      // and the tokenize → n-gram → md5 derivation below the distinct
      // exchange would then run on one core. foreachBatch frames are
      // LogicalRDDs, so Fanout's split-count probe is job-free; no-op
      // when the batch already arrives wide.
      val fanned = graft.util.Fanout.ensure(batch)
      val rows = graft.dedup.NoveltyIndex.probeAndAdmit(spark, snap, fanned,
        sourceCol, textCol, n, held).toSeq
      sink(batchId, rows)
    }.start()
  }

  // ---- streaming ANN enrichment -----------------------------------------

  /** Streaming ANN enrichment: arriving query vectors get their top-k
    * approximate neighbors from a STATIC, pre-fitted IVF index — the
    * online-retrieval / incoming-batch-dedup shape (corpus fitted
    * offline, queries arrive continuously). Per-query ranking needs a
    * window, which streaming plans forbid, so each micro-batch runs
    * the BATCH [[graft.sim.IvfIndex.search]] plan over just that
    * batch's queries inside foreachBatch — semantically exact, not a
    * workaround: per-query top-k is independent of how queries are
    * batched, which the spec pins (two-batch run ≡ one batch search
    * over the union). Each search broadcasts only the micro-batch's
    * probe set against the cell-partitioned corpus, touching
    * ~nProbe∕C of the index per batch like the batch path; callers
    * should persist (or save+load) `index.assigned` so the corpus
    * assignment isn't recomputed every micro-batch. Results land in
    * `outDir/batch=<id>` with overwrite mode — batchId-keyed
    * idempotence, [[multiSink]]'s restart contract.
    */
  def knnStream(queries: DataFrame, index: graft.sim.IvfIndex,
      idCol: String, vecCol: String, k: Int, nProbe: Int, outDir: String,
      checkpointDir: Option[String] = None): StreamingQuery =
    // no AvailableNow trigger: unlike multiSink's drain-once export,
    // this is a long-lived serving query — it keeps consuming batches
    eachBatch(queries, checkpointDir) { (batch, batchId) =>
      index.search(batch, idCol, vecCol, k, nProbe)
        .write.mode("overwrite").parquet(s"$outDir/batch=$batchId")
    }.start()

  // ---- stream-static temporal enrich -------------------------------------

  /** q_state_at_event's streaming twin: a fact STREAM (purchases)
    * joined LEFT against a STATIC state-interval table at event time —
    * point-in-time feature lookup for online scoring. Structured
    * Streaming supports stream-static joins with arbitrary predicates
    * NATIVELY: no state store, no watermark, append mode — each
    * micro-batch joins against the (small, broadcastable) interval
    * snapshot, so this is one declarative join, not a foreachBatch
    * workaround. Contract columns: stream (user_id, es, …) ⋈ intervals
    * (i_user, state, from_s, to_s half-open, NULL to_s = open); a fact
    * with no covering interval keeps state 'unknown'. Refreshing the
    * dimension (a new SCD2 snapshot) is a restart-with-new-static —
    * the standard stream-static contract.
    */
  def stateAtEventStream(facts: DataFrame, intervals: DataFrame): DataFrame =
    facts.join(intervals,
        facts("user_id") === intervals("i_user") &&
          facts("es") >= intervals("from_s") &&
          (intervals("to_s").isNull || facts("es") < intervals("to_s")),
        "left")
      .drop("i_user", "from_s", "to_s")
      .withColumn("state", coalesce(col("state"), lit("unknown")))

  /** Train/val/test assignment on the ingest stream — the streaming
    * half of mix_split's contract: the split is a pure function of the
    * doc id (seeded md5 bucket mod 100, graft.ops.ShuffleShard
    * .splitAssign), so a document gets the SAME assignment whether it
    * arrives in a bulk load or on the live feed, and a replayed /
    * re-delivered doc can never migrate between splits (at-least-once
    * delivery is idempotent on the assignment). Stateless map-side
    * projection: no state store, no watermark, works in append mode at
    * any rate. Callers MUST pass the same seed as the batch path
    * (CurationQueries.SplitSeed) — a seed mismatch silently leaks eval
    * docs into training, which is why the seed is a required argument
    * rather than a default.
    */
  def splitStream(docs: DataFrame, idCol: String, seed: Long): DataFrame =
    graft.ops.ShuffleShard.splitAssign(docs, idCol, seed)

  // ---- continuous data-quality monitoring --------------------------------

  /** Internal corrupt-record column [[quarantineStream]] appends to the
    * caller's clean schema — deliberately namespaced so a user schema
    * (or a JSON document carrying a literal `_bad` key) cannot collide
    * with it.
    */
  val QuarantineCorruptCol = "_graft_corrupt"

  /** source_quarantine run continuously — the dead-letter half of a
    * streaming JSON-lines ingest: each micro-batch of raw lines parses
    * under `from_json` with a corrupt-record column; clean rows land
    * typed in `outDir/clean/batch=<id>`, malformed lines land AS-IS in
    * `outDir/quarantine/batch=<id>` with UTF-8 byte length and the
    * manifest row-sig arithmetic (60-bit md5 prefix) — enough identity
    * to chase the producer without retaining a parser dependency. A
    * torn line neither kills the query NOR silently vanishes — and
    * neither does a NULL or empty line (a tombstone message, a
    * producer bug): anything `from_json` cannot turn into a typed row
    * with a null corrupt column routes to quarantine under the empty
    * line's identity, so the clean dir can never contain phantom
    * all-null rows. Both branches are batchId-keyed overwrites, so an
    * at-least-once replay rewrites its own dirs rather than
    * duplicating rows. `schemaDdl` is the CLEAN schema; the corrupt
    * column is appended here so callers cannot forget it (absent from
    * the schema, Spark would null malformed rows instead of capturing
    * them).
    *
    * Map-only per batch (parse + two filtered writes of one
    * localCheckpointed batch); no state store, no watermark — the
    * quarantine trail grows with bad data, not with time.
    */
  def quarantineStream(lines: DataFrame, schemaDdl: String, outDir: String,
      checkpointDir: Option[String] = None): StreamingQuery = {
    // the corrupt-record column is appended to the CLEAN schema under a
    // collision-resistant name: a caller whose schema (or whose data's
    // literal JSON keys) uses a plain `_bad` must not get a duplicate-
    // column analysis error or have clean rows misrouted to quarantine;
    // a schema that somehow declares the graft-internal name itself is
    // rejected loudly rather than silently shadowed
    // parse the DDL and compare FIELD NAMES case-insensitively (Spark's
    // default resolution): a raw substring test would both reject
    // legitimate columns that merely contain the internal name
    // (`_graft_corrupt_reason`) and miss case-variant true collisions
    require(!org.apache.spark.sql.types.StructType.fromDDL(schemaDdl)
        .fieldNames.exists(_.equalsIgnoreCase(QuarantineCorruptCol)),
      s"quarantineStream: schemaDdl must not declare $QuarantineCorruptCol" +
        " — it is the internal corrupt-record column")
    eachBatch(lines, checkpointDir) { (batch, batchId) =>
      val shared = batch.localCheckpoint(false)
      try {
        val parsed = shared.select(col("value"),
          from_json(col("value"), s"$schemaDdl, $QuarantineCorruptCol STRING",
            Map("columnNameOfCorruptRecord" -> QuarantineCorruptCol)).as("j"))
        // quarantine = anything the parser did not turn into a clean
        // typed row: malformed (corrupt column set), NULL input (the
        // struct itself comes back null), or a null line
        val bad = col("value").isNull || col("j").isNull ||
          col(s"j.$QuarantineCorruptCol").isNotNull
        val line = coalesce(col("value"), lit(""))
        parsed.filter(!bad)
          .select(col("j.*")).drop(QuarantineCorruptCol)
          .write.mode("overwrite").parquet(s"$outDir/clean/batch=$batchId")
        parsed.filter(bad)
          .select(line.as("line"),
            octet_length(line).cast("long").as("n_bytes"),
            conv(substring(md5(line), 1, 15), 16, 10)
              .cast("long").as("sig"))
          .write.mode("overwrite")
          .parquet(s"$outDir/quarantine/batch=$batchId")
      } finally graft.util.Caches.release(shared)
    }.start()
  }

  /** q_constraints run continuously: per micro-batch every predicate
    * check aggregates to one (check_name, n_checked, n_violations) row,
    * plus optional referential integrity as a stream-static broadcast
    * join against a dim snapshot (parent keys deduped — q_constraints'
    * dirty-parent rule); the per-batch audit lands in
    * `outDir/batch=<id>` (batchId-keyed idempotence). This is the gate
    * a landing pipeline runs BEFORE admitting a batch downstream — the
    * audit rows are the alerting surface, the batch ids the replay
    * cursor. Checks are (name, violation-predicate) pairs evaluated in
    * ONE aggregation pass over the batch; the referential check adds
    * one broadcast join.
    */
  def constraintsStream(stream: DataFrame,
      checks: Seq[(String, org.apache.spark.sql.Column)],
      referential: Option[(String, DataFrame, String)], outDir: String,
      checkpointDir: Option[String] = None): StreamingQuery = {
    require(checks.nonEmpty || referential.nonEmpty, "no checks given")
    eachBatch(stream, checkpointDir) { (batch, batchId) =>
      val shared = batch.localCheckpoint(false)
      try {
        val predRows = checks.map { case (nm, pred) =>
          shared.agg(count(lit(1)).as("n_checked"),
            coalesce(sum(when(pred, 1L).otherwise(0L)), lit(0L))
              .as("n_violations"))
            .select(lit(nm).as("check_name"), col("n_checked"),
              col("n_violations"))
        }
        val refRows = referential.map { case (fk, dim, pk) =>
          shared.filter(col(fk).isNotNull)
            .join(broadcast(dim.select(col(pk)).distinct()),
              col(fk) === col(pk), "left")
            .agg(count(lit(1)).as("n_checked"),
              coalesce(sum(when(col(pk).isNull, 1L).otherwise(0L)),
                lit(0L)).as("n_violations"))
            .select(lit(s"$fk -> $pk").as("check_name"),
              col("n_checked"), col("n_violations"))
        }
        (predRows ++ refRows).reduce(_ unionByName _)
          .write.mode("overwrite").parquet(s"$outDir/batch=$batchId")
      } finally graft.util.Caches.release(shared)
    }.start()
  }

  /** Streaming corpus ingestion with ONLINE near-duplicate filtering —
    * [[graft.dedup.SnapshotIndex]]'s day-2 loop (probe → admit →
    * append) run at micro-batch cadence, the shape a continuously-
    * crawling pipeline needs: every arriving batch is (1) deduped
    * within itself (a doc near-dup of a smaller-id batch mate drops —
    * SemDeDup's order-free keep rule, greedy across chains), (2)
    * probed against the index's current epoch, pinned for the batch
    * (map-only until the band equi-join, band-pruned reads), (3) its
    * admitted docs appended through [[graft.dedup.SnapshotIndex.append]]
    * so the NEXT batch sees them as already-seen, and (4) written to
    * `outDir/batch=<id>`. Nothing old is ever re-read beyond the
    * band-pruned probe; per batch the work is proportional to the
    * batch, not the corpus.
    *
    * A compaction or takedown may publish a new epoch WHILE the stream
    * runs: the batch's probe keeps reading the epoch it pinned, and the
    * append re-appends into the new epoch, when one published
    * mid-append, only the admissions it does not already hold
    * ([[graft.util.Epochs.appendLoop]]'s race analysis; two concurrent
    * maintainers fail loudly). READS need no cadence.
    *
    * Restart semantics: the parquet OUTPUT is batchId-keyed idempotent
    * (overwrite per batch dir), and so are ADMISSIONS across a retry:
    * a batch replayed AFTER its append landed sees its own docs in the
    * index, so the probe result is filtered to `new_id =!= seen_id` —
    * ids are stable across retries, so a doc can never be rejected as
    * a duplicate of itself (the retry replays the same admit set and
    * overwrites the same output dir). The re-appended band/shingle
    * rows only bloat the index files, which the store's compact absorbs
    * on its regular cadence; duplicate index rows cannot change later
    * admissions (candidate ids are distinct()-ed and a duplicate
    * shingle row yields the same match it duplicates). The per-batch
    * body is [[dedupIndexBatch]], exposed so the retry contract is
    * directly testable.
    */
  def dedupIndexStreamSnapshot(docs: DataFrame, indexRoot: String,
      idCol: String, textCol: String, n: Int, tau: Double, outDir: String,
      checkpointDir: Option[String] = None): StreamingQuery =
    eachBatch(docs, checkpointDir) { (batch, batchId) =>
      dedupIndexBatch(batch, indexRoot, idCol, textCol, n, tau,
        s"$outDir/batch=$batchId")
    }.start()

  /** One micro-batch of [[dedupIndexStreamSnapshot]]: intra-dedup the
    * batch, probe the [[graft.dedup.SnapshotIndex]] epoch it pins,
    * append the survivors through the store, overwrite `batchDir` with
    * the admit set. Idempotent under replay — see the retry contract
    * on [[dedupIndexStreamSnapshot]].
    */
  private[graft] def dedupIndexBatch(batch: DataFrame, indexRoot: String,
      idCol: String, textCol: String, n: Int, tau: Double,
      batchDir: String): Unit = {
    import graft.dedup.{MinHashIndex, MinHashLSH, SnapshotIndex}
    val spark = batch.sparkSession
    val snap = SnapshotIndex.load(spark, indexRoot)
    // pin the batch: four consumers (intra pairs, probe, anti-joins)
    val pinned = batch.localCheckpoint(false)
    // admit-set pinned too: the append and the parquet write below
    // MUST agree on it, and truncating lineage here also keeps the
    // write from re-running the whole probe
    var admitted: DataFrame = null
    try {
      val intra = MinHashLSH.nearDuplicates(pinned, idCol, textCol, n, tau)
        .select(col("id_b").as("graft_drop")).distinct()
      val batchKept = pinned.join(intra,
        pinned(idCol) === intra("graft_drop"), "left_anti")
      val dupOfSeen = MinHashIndex
        .probe(snap.index, batchKept, idCol, textCol, n, tau)
        // retry idempotence: a replayed batch whose append already
        // landed must not reject its own docs as duplicates of
        // themselves
        .filter(col("new_id") =!= col("seen_id"))
        .select(col("new_id")).distinct()
      // EAGER pin: the append and the batch-output write both consume
      // the admit set and are independent of each other — materialize
      // once, then overlap them (graft.util.Par doc). The batch output
      // is batchId-keyed overwrite, so a failed append alongside a
      // completed output write retries to the same state.
      admitted = batchKept.join(dupOfSeen,
          batchKept(idCol) === dupOfSeen("new_id"), "left_anti")
        .localCheckpoint(true)
      graft.util.Par.both(
        SnapshotIndex.append(spark, admitted, indexRoot, idCol, textCol, n),
        admitted.write.mode("overwrite").parquet(batchDir))
    } finally {
      graft.util.Caches.release(pinned)
      if (admitted != null) graft.util.Caches.release(admitted)
    }
  }
}
