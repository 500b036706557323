package graft.streaming

import scala.reflect.runtime.universe.TypeTag

import graft.Exact
import graft.operators.EventWindows.{AnomMinN, AnomWin, AnomZ, EwmaWin, GapUs}
import org.apache.spark.sql.{Dataset, Encoder, Encoders}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Keyed streaming state (SURVEY.md §2.10): the TTL'd dedup of the
  * ingest path and the streaming TWINS of the batch analytics. A twin is
  * a stateful streaming operator that, fed in event-time order, emits
  * exactly the rows of one batch query (StatefulOpsSpec compares them bit
  * for bit). Window lengths, thresholds and the session gap are read
  * from `EventWindows`' constants, so a twin cannot drift from its batch
  * operator.
  *
  * One rule picks the state API:
  *  - a twin whose state is a single value per key, with no timer, is a
  *    `[flat]mapGroupsWithState` fold — the general operator for
  *    user-defined keyed state in Structured Streaming (SIGMOD 2018),
  *    and it runs on the default HDFS-backed state store that
  *    `graft.Session.local` gives;
  *  - `transformWithState` is used only where a twin needs `ListState`
  *    (append without rewriting the value), `MapState` (one entry read
  *    and written per update) or event-time timers. Those twins need
  *    `spark.sql.streaming.stateStore.providerClass` =
  *    RocksDBStateStoreProvider.
  *
  * Every twin orders a micro-batch by the full-microsecond instant
  * ([[micros]]), like the batch `ORDER BY ts`, and rounds with [[r6]],
  * the batch `round(x, 6)`. State partitions by key across executors.
  */
object StatefulOps {

  /** Epoch microseconds of `ts`. `getTime` alone is millisecond-truncated,
    * so two events in one millisecond would tie (or swap) against the
    * batch queries' full-precision `ts` order. */
  private def micros(ts: java.sql.Timestamp): Long =
    Math.floorDiv(ts.getTime, 1000L) * 1000000L + ts.getNanos / 1000L

  /** HALF_UP rounding to 6 places: the batch queries' `round(x, 6)`. */
  private def r6(v: Double): Double =
    BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** Keyed record for stateful dedup. */
  case class Keyed(key: String, payload: String)

  /** Stream-stream interval-join inputs (the ad-attribution shape). */
  case class Impression(ad_id: String, impression_ts: java.sql.Timestamp)
  case class Click(ad_id: String, click_ts: java.sql.Timestamp)

  /** Per-key running aggregate output. */
  case class RunningTotal(key: String, n: Long, total: Double)

  /** TTL'd stateful dedup: first occurrence of a key passes, repeats are
    * dropped while the key's state is alive; after `ttlMs` of processing
    * time without the key re-arriving, the state expires and the dedup
    * window re-opens — the Spark-native replacement for the reference's
    * Redis SISMEMBER/SADD seen-sets with the expiry they forgot
    * (reddit_harvester_aus.py:19,41,80 grow forever). Memory is bounded
    * by (live keys × TTL window) regardless of stream length. `ttlMs = 0`
    * disables expiry (NoTimeout — the reference's literal unbounded
    * semantics).
    *
    * Caveat: with ProcessingTimeTimeout registered, the engine fires
    * empty micro-batches continuously to evaluate timeouts, so
    * `processAllAvailable` never settles — drive TTL'd queries with a real
    * `Trigger.ProcessingTime`, and use `ttlMs = 0` in synchronous tests. */
  def dedupWithTtl(ds: Dataset[Keyed], ttlMs: Long): Dataset[Keyed] = {
    implicit val enc: Encoder[Keyed] = Encoders.product[Keyed]
    implicit val boolEnc: Encoder[Boolean] = Encoders.scalaBoolean
    val timeout =
      if (ttlMs > 0) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    ds.groupByKey(_.key)(Encoders.STRING)
      .flatMapGroupsWithState(OutputMode.Append, timeout)(
        (key: String, rows: Iterator[Keyed], state: GroupState[Boolean]) => {
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else if (state.exists) {
            // already seen within TTL: swallow repeats, keep the clock fresh
            if (ttlMs > 0) state.setTimeoutDuration(ttlMs)
            Iterator.empty
          } else {
            state.update(true)
            if (ttlMs > 0) state.setTimeoutDuration(ttlMs)
            rows.take(1)
          }
        })
  }

  /** Per-key running count/sum maintained as explicit state, emitted once
    * per micro-batch the key appears in (update-mode friendly). */
  def runningTotals(ds: Dataset[(String, Double)]): Dataset[RunningTotal] = {
    implicit val enc: Encoder[RunningTotal] = Encoders.product[RunningTotal]
    implicit val stEnc: Encoder[(Long, Double)] = Encoders.tuple(Encoders.scalaLong, Encoders.scalaDouble)
    ds.groupByKey(_._1)(Encoders.STRING)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout)(
        (key: String, rows: Iterator[(String, Double)], state: GroupState[(Long, Double)]) => {
          val (n0, s0) = state.getOption.getOrElse((0L, 0.0))
          var n = n0
          var s = s0
          rows.foreach { r => n += 1; s += r._2 }
          state.update((n, s))
          RunningTotal(key, n, s)
        })
  }

  /** A closed session: emitted by [[SessionTimeoutProcessor]] when the
    * watermark passes (last event + gap) for a key. */
  case class SessionClosed(key: String, n: Long, startMs: Long, endMs: Long)

  /** Session-timeout emitter on transformWithState EVENT-TIME TIMERS.
    * Each key holds (count, start, last); every batch the
    * processor re-arms one timer at `last + gap`, and when the WATERMARK
    * (not wall clock — deterministic under replay) passes it,
    * `handleExpiredTimer` emits the session summary and frees the state.
    * This is `session_window` re-built on raw primitives, which is the
    * point: the same timer shape implements delayed emission, SLA alerts,
    * or scheduled state GC that no built-in window expresses. State per key
    * is one triple + one timer regardless of session length, keyed-hash
    * partitioned — at 1000 executors each key's state and timer live on
    * one partition, no cross-executor traffic. */
  class SessionTimeoutProcessor(gapMs: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        String, (String, java.sql.Timestamp), SessionClosed] {
    @transient private var state:
        org.apache.spark.sql.streaming.ValueState[(Long, Long, Long)] = _

    override def init(outputMode: OutputMode,
                      timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      state = getHandle.getValueState[(Long, Long, Long)]("sess",
        Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong, Encoders.scalaLong),
        org.apache.spark.sql.streaming.TTLConfig.NONE)

    override def handleInputRows(
        key: String, rows: Iterator[(String, java.sql.Timestamp)],
        timers: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[SessionClosed] = {
      val (n0, start0, last0) =
        if (state.exists) state.get() else (0L, Long.MaxValue, Long.MinValue)
      var n = n0
      var start = start0
      var last = last0
      rows.foreach { r =>
        val t = r._2.getTime
        n += 1
        start = math.min(start, t)
        last = math.max(last, t)
      }
      if (last != last0) { // re-arm: one live timer per key
        if (n0 > 0) getHandle.deleteTimer(last0 + gapMs)
        getHandle.registerTimer(last + gapMs)
      }
      state.update((n, start, last))
      Iterator.empty
    }

    override def handleExpiredTimer(
        key: String,
        timers: org.apache.spark.sql.streaming.TimerValues,
        expired: org.apache.spark.sql.streaming.ExpiredTimerInfo)
        : Iterator[SessionClosed] = {
      val out = if (state.exists) {
        val (n, start, last) = state.get()
        Iterator.single(SessionClosed(key, n, start, last))
      } else Iterator.empty
      state.clear()
      out
    }
  }

  /** `(key, event_ts)` → one [[SessionClosed]] per key when `gapMs` of
    * event time passes with no new events. Input must carry a watermark
    * (TimeMode.EventTime). */
  def sessionTimeouts(ds: Dataset[(String, java.sql.Timestamp)],
                      gapMs: Long): Dataset[SessionClosed] = {
    implicit val enc: Encoder[SessionClosed] = Encoders.product[SessionClosed]
    ds.toDF("key", "ts").withWatermark("ts", "0 seconds")
      .as[(String, java.sql.Timestamp)](
        Encoders.tuple(Encoders.STRING, Encoders.TIMESTAMP))
      .groupByKey(_._1)(Encoders.STRING)
      .transformWithState(new SessionTimeoutProcessor(gapMs),
        org.apache.spark.sql.streaming.TimeMode.EventTime(),
        OutputMode.Append(),
        enc)
  }

  /** A closed per-user session in the exact batch `t6_session_window` row
    * shape: `sess_end` = last event + gap (Spark `session_window`
    * semantics), `sum_value` decimal-exact (the `Exact.dsum` contract). */
  case class UserSession(user_id: Long, sess_start: java.sql.Timestamp,
      sess_end: java.sql.Timestamp, n_events: Long, sum_value: Double)

  /** The STREAMING twin of the batch `t6_session_window` operator — the
    * round-14 verdict's one remaining §2.10 stateful shape without a twin.
    * State = ONE open session per user (n, start-µs, last-µs, value cents):
    * an event within gap of the open session extends it; an event at
    * >= last + gap closes it INLINE (emitting the batch-shaped row) and
    * opens the next — so one micro-batch spanning many sessions emits
    * them all. The re-armed event-time timer at last + gap covers the one
    * case inline closing can't see: the session left open when the stream
    * goes idle or ends — when the WATERMARK passes the timer, the row is
    * emitted and the state freed. State per user is four longs + one
    * timer regardless of session length or stream age, keyed-hash
    * partitioned across executors.
    *
    * Parity contract (StatefulOpsSpec pins it against the oracle-checked
    * batch rows on the real sf0.001 corpus): on an in-order feed —
    * the established twin ordering discipline (rollingEwma/
    * SessionPathProcessor) — the single-open-session state IS
    * `session_window`'s semantics, because a new event either lands within
    * gap of the open session (extends it) or after the timer would have
    * fired (new session). Values accumulate as exact integer cents via
    * BigDecimal.valueOf(v).setScale(2, HALF_UP) — bit-identical to the
    * batch `Exact.dsum`'s double→DECIMAL(18,2) cast — and surface as one
    * correctly-rounded double, so sums match the oracle row-for-row.
    * Session bounds keep full microsecond precision in state; timers are
    * ms-granular, so the close timer is armed at the CEILING millisecond
    * of `last` (+gap). Firing up to 1 ms LATE is safe — an event at
    * >= last+gap still closes the session inline — whereas a
    * floor-truncated timer could fire up to 1 ms EARLY in event time:
    * another key's event landing in the sub-ms window (timer_ms,
    * last+gapUs) would advance the watermark past the timer and close a
    * session that a later in-gap event should have extended. */
  class SessionAggProcessor(gapMs: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, (Long, java.sql.Timestamp, Double), UserSession] {
    @transient private var state:
        org.apache.spark.sql.streaming.ValueState[(Long, Long, Long, Long)] = _

    override def init(outputMode: OutputMode,
                      timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      state = getHandle.getValueState[(Long, Long, Long, Long)]("usess",
        Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong,
          Encoders.scalaLong, Encoders.scalaLong),
        org.apache.spark.sql.streaming.TTLConfig.NONE)

    override def handleInputRows(
        user: Long, rows: Iterator[(Long, java.sql.Timestamp, Double)],
        timers: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[UserSession] = {
      val (n0, start0, last0, cents0) =
        if (state.exists) state.get() else (0L, Long.MaxValue, Long.MinValue, 0L)
      var n = n0; var start = start0; var last = last0; var cents = cents0
      val gapUs = gapMs * 1000L
      val out = Vector.newBuilder[UserSession]
      // Deterministic in-batch order (the anomaly/EWMA twins' discipline),
      // because a single micro-batch can span MANY sessions: an event at
      // >= last + gap definitively closes the open session on an in-order
      // feed — `session_window`'s [start, last + gap) is end-exclusive —
      // so it is emitted inline; the event-time timer only closes the
      // session left open when the stream goes idle or ends.
      for ((_, ts, v) <- rows.toVector.sortBy(r => micros(r._2))) {
        val us = micros(ts)
        if (n > 0 && us >= last + gapUs) {
          out += closed(user, n, start, last, cents)
          n = 0; start = Long.MaxValue; last = Long.MinValue; cents = 0L
        }
        n += 1
        start = math.min(start, us)
        last = math.max(last, us)
        cents += java.math.BigDecimal.valueOf(v)
          .setScale(2, java.math.RoundingMode.HALF_UP)
          .unscaledValue().longValueExact()
      }
      if (last != last0) { // one live timer per user; CEILING ms (class doc)
        if (n0 > 0) getHandle.deleteTimer(Math.floorDiv(last0 + 999L, 1000L) + gapMs)
        getHandle.registerTimer(Math.floorDiv(last + 999L, 1000L) + gapMs)
      }
      state.update((n, start, last, cents))
      out.result().iterator
    }

    private def closed(user: Long, n: Long, start: Long, last: Long,
                       cents: Long): UserSession =
      UserSession(user, tsOf(start), tsOf(last + gapMs * 1000L), n,
        new java.math.BigDecimal(
          java.math.BigInteger.valueOf(cents), 2).doubleValue())

    private def tsOf(us: Long): java.sql.Timestamp = {
      val t = new java.sql.Timestamp(Math.floorDiv(us, 1000000L) * 1000L)
      t.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt)
      t
    }

    override def handleExpiredTimer(
        user: Long,
        timers: org.apache.spark.sql.streaming.TimerValues,
        expired: org.apache.spark.sql.streaming.ExpiredTimerInfo)
        : Iterator[UserSession] = {
      val out = if (state.exists) {
        val (n, start, last, cents) = state.get()
        Iterator.single(closed(user, n, start, last, cents))
      } else Iterator.empty
      state.clear()
      out
    }
  }

  /** `(user_id, event_ts, value)` → one [[UserSession]] per closed session
    * (gap `gapMs` of event time with no new events). Input must be fed
    * in event-time order; requires RocksDB (transformWithState). */
  def userSessions(ds: Dataset[(Long, java.sql.Timestamp, Double)],
                   gapMs: Long): Dataset[UserSession] = {
    implicit val enc: Encoder[UserSession] = Encoders.product[UserSession]
    ds.toDF("user_id", "ts", "value").withWatermark("ts", "0 seconds")
      .as[(Long, java.sql.Timestamp, Double)](
        Encoders.tuple(Encoders.scalaLong, Encoders.TIMESTAMP,
          Encoders.scalaDouble))
      .groupByKey(_._1)(Encoders.scalaLong)
      .transformWithState(new SessionAggProcessor(gapMs),
        org.apache.spark.sql.streaming.TimeMode.EventTime(),
        OutputMode.Append(),
        enc)
  }

  /** Last-n-per-key output of [[RecentEventsProcessor]]. */
  case class Recent(key: String, recent: String)

  /** Per-key recent-events buffer on transformWithState LIST STATE — the
    * third leg of the Spark-4 state API (ValueState above, timers above,
    * ListState here). Keeps the most recent `n` payloads per key and emits
    * them oldest→newest each batch the key appears in; the RocksDB list
    * layout appends without rewriting the whole value (unlike a
    * ValueState[Seq] which round-trips the entire buffer per update), so
    * the per-batch cost is O(new rows + n), not O(history). */
  class RecentEventsProcessor(n: Int)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        String, Keyed, Recent] {
    @transient private var buf:
        org.apache.spark.sql.streaming.ListState[String] = _

    override def init(outputMode: OutputMode,
                      timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      buf = getHandle.getListState[String]("recent", Encoders.STRING,
        org.apache.spark.sql.streaming.TTLConfig.NONE)

    override def handleInputRows(
        key: String, rows: Iterator[Keyed],
        timers: org.apache.spark.sql.streaming.TimerValues): Iterator[Recent] = {
      rows.foreach(r => buf.appendValue(r.payload))
      val all = buf.get().toArray
      if (all.length > n) buf.put(all.takeRight(n))
      Iterator.single(Recent(key, all.takeRight(n).mkString(" ")))
    }
  }

  def recentEvents(ds: Dataset[Keyed], n: Int): Dataset[Recent] = {
    implicit val enc: Encoder[Recent] = Encoders.product[Recent]
    ds.groupByKey(_.key)(Encoders.STRING)
      .transformWithState(new RecentEventsProcessor(n),
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Update(),
        enc)
  }

  /** Per-(key, category) running count from [[CategoryCountsProcessor]]. */
  case class CategoryCount(key: String, category: String, n: Long)

  /** Per-key categorical histogram on transformWithState MAP STATE — the
    * fourth and last state primitive (ValueState, timers, ListState above).
    * Each key holds a category→count map; MapState stores every map entry
    * as its own RocksDB key, so one category's increment reads and writes
    * ONE entry — a ValueState[Map] would deserialize and rewrite the whole
    * histogram per row, which at a 100 TB stream's cardinality (think
    * per-subreddit flair counts) is the difference between O(updates) and
    * O(updates × categories). Emits the touched categories' counts each
    * batch (update-mode friendly). */
  class CategoryCountsProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        String, (String, String), CategoryCount] {
    @transient private var counts:
        org.apache.spark.sql.streaming.MapState[String, Long] = _

    override def init(outputMode: OutputMode,
                      timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      counts = getHandle.getMapState[String, Long]("counts",
        Encoders.STRING, Encoders.scalaLong,
        org.apache.spark.sql.streaming.TTLConfig.NONE)

    override def handleInputRows(
        key: String, rows: Iterator[(String, String)],
        timers: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[CategoryCount] = {
      val touched = scala.collection.mutable.LinkedHashSet.empty[String]
      rows.foreach { case (_, cat) =>
        val prev = if (counts.containsKey(cat)) counts.getValue(cat) else 0L
        counts.updateValue(cat, prev + 1L)
        touched += cat
      }
      touched.iterator.map(c => CategoryCount(key, c, counts.getValue(c)))
    }
  }

  /** `(key, category)` events → per-key running category counts. */
  def categoryCounts(ds: Dataset[(String, String)]): Dataset[CategoryCount] = {
    implicit val enc: Encoder[CategoryCount] = Encoders.product[CategoryCount]
    ds.groupByKey(_._1)(Encoders.STRING)
      .transformWithState(new CategoryCountsProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Update(),
        enc)
  }

  /** Streaming event row for [[rollingAnomaly]] and [[rollingEwma]]. */
  case class Ev(event_type: String, ts: java.sql.Timestamp, event_id: Long, value: Double)

  /** Flagged anomaly (mirrors the batch `ev_anomaly` output schema). */
  case class Anomaly(event_id: Long, event_type: String, value: Double, z: Double)

  /** Rolling-window state: the last ≤ AnomWin integer-cent values.
    * Bounded: ≤ win longs per live event_type, regardless of stream
    * length. The power sums are recomputed per event in BigInt (O(win)
    * adds — trivial at win=100) to mirror the batch query's DECIMAL(38,0)
    * accumulation: no cent domain can silently wrap the discriminant. */
  case class AnomState(ring: Seq[Long])

  /** The STREAMING twin of the batch `ev_anomaly` operator: per event
    * type, score each event against the trailing `AnomWin`-row window
    * (inclusive) of integer-cent values and emit rows with |z| ≥ `AnomZ`
    * once `AnomMinN` rows have been seen. Identical arithmetic to the
    * batch query — integer power sums, z = (c·n − cs)/√(n·css − cs²),
    * round(6) — so on an in-order feed the stream output EQUALS the
    * batch/DuckDB-oracle result row-for-row (StatefulOpsSpec pins it).
    *
    * Ordering contract: rows are sorted (ts µs, event_id) within each
    * micro-batch; across batches the feed must be event-time ordered per
    * key (the replay/backfill case). For out-of-order production streams,
    * front this with a watermark + sort-within-window stage or accept
    * per-batch-local ordering — the state itself is order-agnostic
    * arithmetic over whatever order it is fed. */
  def rollingAnomaly(ds: Dataset[Ev]): Dataset[Anomaly] = {
    implicit val enc: Encoder[Anomaly] = Encoders.product[Anomaly]
    implicit val stEnc: Encoder[AnomState] = Encoders.product[AnomState]
    ds.groupByKey(_.event_type)(Encoders.STRING)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (key: String, rows: Iterator[Ev], state: GroupState[AnomState]) => {
          var ring = state.getOption.map(_.ring.toVector)
            .getOrElse(Vector.empty[Long])
          val out = Vector.newBuilder[Anomaly]
          for (ev <- rows.toVector.sortBy(e => (micros(e.ts), e.event_id))) {
            val c = Exact.cents(ev.value)
            ring = (ring :+ c).takeRight(AnomWin)
            val n = ring.length.toLong
            // exact BigInt power sums — the batch DECIMAL(38,0) twin
            val cs = ring.foldLeft(BigInt(0))(_ + _)
            val css = ring.foldLeft(BigInt(0))((a, x) => a + BigInt(x) * x)
            val disc = css * n - cs * cs
            if (n >= AnomMinN && disc.signum > 0) {
              val z = (BigInt(c) * n - cs).doubleValue / math.sqrt(disc.doubleValue)
              if (math.abs(z) >= AnomZ)
                out += Anomaly(ev.event_id, key, ev.value, r6(z))
            }
          }
          state.update(AnomState(ring))
          out.result().iterator
        })
  }

  /** EWMA output row (mirrors the batch `ev_ewma` output schema). */
  case class Ewma(event_id: Long, event_type: String, value: Double, ewma: Double)

  /** EWMA state per event_type: the last processed (µs, event_id) order
    * key — the monotone-feed guard — and the ring of the last ≤ EwmaWin
    * integer cents, newest LAST. Bounded regardless of stream length. */
  case class EwmaState(lastUs: Long, lastId: Long, ring: Seq[Long])

  /** The STREAMING twin of the batch `ev_ewma` operator: per event type,
    * emit the trailing `EwmaWin`-row exponentially-weighted mean (decay
    * 1/2) for every event. The EWMA is causal, so each input row emits
    * its output row at once, with no flush sentinel. Identical arithmetic
    * to the batch query — exact integer Horner sum Σ c_j·2^(n−1−j)
    * (newest weighted highest), divisor 2^n − 1, one correctly-rounded
    * double conversion, round(6) — so on an in-order feed the stream
    * output EQUALS the batch/DuckDB-oracle result row-for-row
    * (StatefulOpsSpec pins it). Same in-batch order as [[rollingAnomaly]];
    * across batches a row that precedes the last processed
    * (µs, event_id) fails the query instead of folding as the newest. */
  def rollingEwma(ds: Dataset[Ev]): Dataset[Ewma] = {
    implicit val enc: Encoder[Ewma] = Encoders.product[Ewma]
    implicit val stEnc: Encoder[EwmaState] = Encoders.product[EwmaState]
    ds.groupByKey(_.event_type)(Encoders.STRING)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (key: String, rows: Iterator[Ev], state: GroupState[EwmaState]) => {
          val st = state.getOption
            .getOrElse(EwmaState(Long.MinValue, Long.MinValue, Vector.empty))
          var (lastUs, lastId, ring) = (st.lastUs, st.lastId, st.ring.toVector)
          val out = Vector.newBuilder[Ewma]
          for (ev <- rows.toVector.sortBy(e => (micros(e.ts), e.event_id))) {
            val us = micros(ev.ts)
            require(us > lastUs || (us == lastUs && ev.event_id >= lastId),
              s"EWMA feed out of order for type '$key': ($us, ${ev.event_id}) " +
                s"arrived after ($lastUs, $lastId)")
            val c = Exact.cents(ev.value)
            ring = (ring :+ c).takeRight(EwmaWin)
            val s = ring.reverseIterator.foldLeft(BigInt(0))((acc, x) => acc * 2 + x)
            val d = (BigInt(1) << ring.length) - 1
            out += Ewma(ev.event_id, key, ev.value,
              r6(s.doubleValue / d.doubleValue / 100.0))
            lastUs = us; lastId = ev.event_id
          }
          state.update(EwmaState(lastUs, lastId, ring))
          out.result().iterator
        })
  }

  /** Funnel-advance record from [[funnelProgress]]: the user reached
    * `stage` (1 = signup, 2 = click-after-signup, 3 = purchase-after-
    * click) at `ts`. */
  case class FunnelStage(user_id: Long, stage: Int, ts: java.sql.Timestamp)

  /** The STREAMING twin of the batch `ev_funnel` operator:
    * `(user_id, ts, event_type)` → funnel-advance rows. Per-user
    * ordered-progression state (first signup → first later click → first
    * later purchase) is one µs triple, and a row is emitted whenever a
    * user ADVANCES a stage. On an event-time-ordered feed the greedy
    * online progression equals the batch min-ts chain exactly, so the
    * per-stage user counts (users whose final stage ≥ k) match the
    * oracle-checked ev_funnel rows across micro-batches — StatefulOpsSpec
    * pins it. State is three longs per user forever; users hash across
    * executors. */
  def funnelProgress(ds: Dataset[(Long, java.sql.Timestamp, String)])
      : Dataset[FunnelStage] = {
    implicit val enc: Encoder[FunnelStage] = Encoders.product[FunnelStage]
    implicit val stEnc: Encoder[(Long, Long, Long)] =
      Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong, Encoders.scalaLong)
    val Unset = Long.MinValue
    ds.groupByKey(_._1)(Encoders.scalaLong)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (user: Long, rows: Iterator[(Long, java.sql.Timestamp, String)],
         state: GroupState[(Long, Long, Long)]) => {
          var (t1, t2, t3) = state.getOption.getOrElse((Unset, Unset, Unset))
          val out = Vector.newBuilder[FunnelStage]
          // Deterministic batch order: (micros, sub-µs nanos, type). The
          // strict us > t1/t2 guards make same-instant events inert for
          // stage COUNTS either way, but the emitted FunnelStage row for
          // tied first events (e.g. two clicks in the same µs whose
          // Timestamps differ at ns precision) must not depend on arrival
          // order across re-executions.
          for ((_, ts, tpe) <- rows.toVector
                 .sortBy(r => (micros(r._2), r._2.getNanos, r._3))) {
            val us = micros(ts)
            if (tpe == "signup" && t1 == Unset) {
              t1 = us; out += FunnelStage(user, 1, ts)
            } else if (tpe == "click" && t1 != Unset && t2 == Unset && us > t1) {
              t2 = us; out += FunnelStage(user, 2, ts)
            } else if (tpe == "purchase" && t2 != Unset && t3 == Unset && us > t2) {
              t3 = us; out += FunnelStage(user, 3, ts)
            }
          }
          state.update((t1, t2, t3))
          out.result().iterator
        })
  }

  /** Per-key heavy-hitter estimate from [[MisraGriesProcessor]]. */
  case class HeavyHitter(key: String, item: String, est: Long)

  /** Misra–Gries heavy hitters on transformWithState MAP STATE: each key
    * holds at most `k` (item → counter) entries — an unseen item either
    * claims a free slot or decrements every counter (the classic
    * frequent-items sketch). State is O(k) per key FOREVER, regardless of
    * stream length or item cardinality — the property that lets a
    * 1000-executor topology track per-user/per-tenant top items without
    * per-item state. Guarantees (spec-pinned): estimates never exceed the
    * true count, undercount by at most n_key/(k+1), and — when k ≥ the
    * key's distinct-item count — are EXACT, equal to the batch
    * groupBy(key, item).count. Emits the key's current counters each
    * batch it appears in (update-mode friendly). */
  class MisraGriesProcessor(k: Int)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        String, (String, String), HeavyHitter] {
    @transient private var counters:
        org.apache.spark.sql.streaming.MapState[String, Long] = _

    override def init(outputMode: OutputMode,
                      timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      counters = getHandle.getMapState[String, Long]("mg",
        Encoders.STRING, Encoders.scalaLong,
        org.apache.spark.sql.streaming.TTLConfig.NONE)

    override def handleInputRows(
        key: String, rows: Iterator[(String, String)],
        timers: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[HeavyHitter] = {
      val m = scala.collection.mutable.LinkedHashMap[String, Long]()
      counters.iterator().foreach { case (i, c) => m(i) = c }
      rows.foreach { case (_, item) =>
        if (m.contains(item)) m(item) += 1L
        else if (m.size < k) m(item) = 1L
        else m.keys.toSeq.foreach { i =>
          m(i) -= 1L
          if (m(i) == 0L) m.remove(i)
        }
      }
      counters.clear()
      m.foreach { case (i, c) => counters.updateValue(i, c) }
      m.iterator.map { case (i, c) => HeavyHitter(key, i, c) }
    }
  }

  /** One 3-step path occurrence inside a CLOSED session, from
    * [[SessionPathProcessor]]. */
  case class SessionPath(user_id: Long, path: String)

  /** Session-path input: `event_type == "__flush"` closes the user's
    * pending session without joining it (the end-of-stream signal the
    * batch query gets for free by seeing the whole history). */
  case class PathEv(user_id: Long, ts: java.sql.Timestamp, event_id: Long,
                    event_type: String)

  /** The STREAMING twin of the batch `ev_path` operator — the last
    * batch family (path/funnel mining) without a stateful counterpart.
    * Per-user state is the CURRENT session only: a ListState of event
    * types plus the last event-time micro-instant. An arriving event
    * whose gap from the last is ≥ GapUs CLOSES the session — every
    * consecutive 3-step path `a>b>c` of the closed session is emitted,
    * mirroring the batch sessionize → trigram explode exactly — then
    * starts the next one. On an event-time-ordered feed the emitted
    * path multiset equals the batch `ev_path` pre-limit rows
    * (StatefulOpsSpec pins the full top-N result). State is bounded by
    * the longest single session (gap-bounded in practice), NOT stream
    * length; users hash across executors. Session closure for a key
    * that never speaks again comes from the `"__flush"` sentinel here
    * (TimeMode.None keeps the processor synchronous-test-friendly); the
    * watermark-timer variant of the same closure is pinned separately
    * by the sessionizer timer test — production deployments register an
    * event-time timer at last+gap instead of the sentinel. */
  class SessionPathProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, PathEv, SessionPath] {
    @transient private var types:
        org.apache.spark.sql.streaming.ListState[String] = _
    @transient private var lastUs:
        org.apache.spark.sql.streaming.ValueState[Long] = _

    override def init(outputMode: OutputMode,
                      timeMode: org.apache.spark.sql.streaming.TimeMode): Unit = {
      types = getHandle.getListState[String]("sess_types", Encoders.STRING,
        org.apache.spark.sql.streaming.TTLConfig.NONE)
      lastUs = getHandle.getValueState[Long]("sess_last", Encoders.scalaLong,
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    }

    override def handleInputRows(
        user: Long, rows: Iterator[PathEv],
        timers: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[SessionPath] = {
      val out = Vector.newBuilder[SessionPath]
      def close(): Unit = {
        val t = types.get().toVector
        if (t.length >= 3)
          for (i <- 0 to t.length - 3)
            out += SessionPath(user, s"${t(i)}>${t(i + 1)}>${t(i + 2)}")
        types.clear()
      }
      // Deterministic batch order: (micros, event_id) — the batch
      // sessionizer's exact sort key.
      for (e <- rows.toVector.sortBy(r => (micros(r.ts), r.event_id))) {
        if (e.event_type == "__flush") { close(); lastUs.clear() }
        else {
          val us = micros(e.ts)
          if (lastUs.exists() && us - lastUs.get() >= GapUs) close()
          types.appendValue(e.event_type)
          lastUs.update(us)
        }
      }
      out.result().iterator
    }
  }

  /** `PathEv` stream → per-session 3-step path occurrences. Requires
    * RocksDB (transformWithState). */
  def sessionPaths(ds: Dataset[PathEv]): Dataset[SessionPath] = {
    implicit val enc: Encoder[SessionPath] = Encoders.product[SessionPath]
    ds.groupByKey(_.user_id)(Encoders.scalaLong)
      .transformWithState(new SessionPathProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Append(),
        enc)
  }

  /** One matched signup→purchase-without-error pattern inside a CLOSED
    * session, from [[SessionPatternProcessor]] — the exact batch
    * `ev_pattern` output row. */
  case class PatternMatch(user_id: Long, sess: Long, signup_pos: Long,
                          purchase_pos: Long, steps_between: Long,
                          latency_us: Long)

  /** The STREAMING twin of the batch `ev_pattern` operator (round-12:
    * closes the funnel/pattern family — `funnelProgress` paired
    * ev_funnel in round 10, `sessionPaths` paired ev_path in round 11).
    * Per-user state is the CURRENT session's (event_type, event-time µs)
    * list plus the last event instant and a session ordinal. A gap ≥
    * GapUs (or the `"__flush"` sentinel) CLOSES the session: the closed
    * event list is scanned for the FIRST signup, the FIRST purchase
    * after it, and any error strictly between — emitting the batch row
    * (user, sess, positions, steps_between, latency_us) only for clean
    * matches, with `sess` numbered exactly like the batch cumulative
    * new-session counter. On an event-time-ordered feed the emitted row
    * set equals the batch `ev_pattern` result (StatefulOpsSpec pins it).
    * State is bounded by the longest single session, NOT stream length;
    * users hash across executors. Production closure uses an event-time
    * timer at last+gap (the sessionizer timer test's mechanism);
    * TimeMode.None + sentinel keeps this synchronous-test-friendly. */
  class SessionPatternProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, PathEv, PatternMatch] {
    @transient private var evs:
        org.apache.spark.sql.streaming.ListState[(String, Long)] = _
    @transient private var lastUs:
        org.apache.spark.sql.streaming.ValueState[Long] = _
    @transient private var sessIdx:
        org.apache.spark.sql.streaming.ValueState[Long] = _

    override def init(outputMode: OutputMode,
                      timeMode: org.apache.spark.sql.streaming.TimeMode): Unit = {
      evs = getHandle.getListState[(String, Long)]("pat_evs",
        Encoders.product[(String, Long)],
        org.apache.spark.sql.streaming.TTLConfig.NONE)
      lastUs = getHandle.getValueState[Long]("pat_last", Encoders.scalaLong,
        org.apache.spark.sql.streaming.TTLConfig.NONE)
      sessIdx = getHandle.getValueState[Long]("pat_sess", Encoders.scalaLong,
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    }

    override def handleInputRows(
        user: Long, rows: Iterator[PathEv],
        timers: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[PatternMatch] = {
      val out = Vector.newBuilder[PatternMatch]
      def close(): Unit = {
        val t = evs.get().toVector
        if (t.nonEmpty) {
          val sess = if (sessIdx.exists()) sessIdx.get() else 1L
          // FIRST signup; FIRST purchase strictly after it; no error
          // strictly between — the batch min-struct/anti-count semantics
          // over 1-based in-session positions.
          val ps = t.indexWhere(_._1 == "signup")
          if (ps >= 0) {
            val pe = t.indexWhere(_._1 == "purchase", ps + 1)
            if (pe >= 0 &&
                !t.slice(ps + 1, pe).exists(_._1 == "error"))
              out += PatternMatch(user, sess, ps + 1L, pe + 1L,
                (pe - ps - 1).toLong, t(pe)._2 - t(ps)._2)
          }
          sessIdx.update(sess + 1L)
          evs.clear()
        }
      }
      for (e <- rows.toVector.sortBy(r => (micros(r.ts), r.event_id))) {
        if (e.event_type == "__flush") { close(); lastUs.clear() }
        else {
          val us = micros(e.ts)
          if (lastUs.exists() && us - lastUs.get() >= GapUs) close()
          evs.appendValue((e.event_type, us))
          lastUs.update(us)
        }
      }
      out.result().iterator
    }
  }

  /** `PathEv` stream → per-session signup→purchase pattern matches.
    * Requires RocksDB (transformWithState). */
  def sessionPatterns(ds: Dataset[PathEv]): Dataset[PatternMatch] = {
    implicit val enc: Encoder[PatternMatch] = Encoders.product[PatternMatch]
    ds.groupByKey(_.user_id)(Encoders.scalaLong)
      .transformWithState(new SessionPatternProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Append(),
        enc)
  }

  /** Streaming input row for the day-close twins ([[driftMonitor]],
    * [[holtMonitor]], [[crostonMonitor]]): one event with its integer
    * cents; `cents == Long.MinValue` is the per-type flush sentinel (send
    * it in its own micro-batch, after the data, like the other
    * sentinel-flushed twins). */
  case class DriftEv(event_type: String, ts: java.sql.Timestamp, cents: Long)

  /** Day-fold state of a day-close twin: the open epoch day
    * (`Long.MinValue` = none), its integer Σcents and row count, and the
    * twin's carried recursion variables `rec`. Package-private, not
    * `private`: the state (de)serializer Spark generates and compiles
    * with Janino cannot call the accessors of a `private` nested class. */
  private[streaming] case class OpenDay[R](day: Long, sc: Long, cnt: Long, rec: R)

  /** The fold every day-close twin runs, per event type: rows in µs
    * order; a day earlier than the open one fails the query (the
    * monotone-day contract — an out-of-order event ACROSS batches would
    * otherwise fold silently as a new later day and diverge from the
    * batch result; the feed must be day-ordered per type, e.g. by a
    * watermark + sort upstream); a later day closes the open one through
    * `step(rec, dayValue(Σcents, rows))` and, when `zeroFill`, folds an
    * explicit x = 0 for every calendar day in the gap — the batch op
    * rides a zero-filled [min, max] day spine. The flush sentinel closes
    * the open day (no trailing zeros past it) and emits `emit(type, rec)`.
    * State is ONE fixed-size record per type regardless of stream length;
    * types hash across executors. */
  private def dayTwin[R <: Product : TypeTag, O <: Product : TypeTag](
      ds: Dataset[DriftEv], name: String, zeroFill: Boolean, init: R)(
      dayValue: (Long, Long) => Double, step: (R, Double) => R,
      emit: (String, R) => O): Dataset[O] = {
    implicit val enc: Encoder[O] = Encoders.product[O]
    implicit val stEnc: Encoder[OpenDay[R]] = Encoders.product[OpenDay[R]]
    ds.groupByKey(_.event_type)(Encoders.STRING)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (tpe: String, rows: Iterator[DriftEv], state: GroupState[OpenDay[R]]) => {
          var cur = state.getOption.getOrElse(OpenDay(Long.MinValue, 0L, 0L, init))
          def closeUpTo(nextDay: Long): Unit = if (cur.day != Long.MinValue) {
            var rec = step(cur.rec, dayValue(cur.sc, cur.cnt))
            var d = cur.day + 1
            while (zeroFill && d < nextDay) { rec = step(rec, 0.0); d += 1 }
            cur = OpenDay(Long.MinValue, 0L, 0L, rec)
          }
          val out = Vector.newBuilder[O]
          for (e <- rows.toVector.sortBy(r => micros(r.ts))) {
            if (e.cents == Long.MinValue) {
              closeUpTo(Long.MinValue)
              out += emit(tpe, cur.rec)
            } else {
              val day = Math.floorDiv(micros(e.ts), 86400000000L)
              require(cur.day == Long.MinValue || day >= cur.day,
                s"$name feed out of order for type '$tpe': event day $day " +
                  s"arrived after open day ${cur.day}")
              if (cur.day != Long.MinValue && day != cur.day) closeUpTo(day)
              cur = cur.copy(day = day, sc = cur.sc + e.cents, cnt = cur.cnt + 1)
            }
          }
          state.update(cur)
          out.result().iterator
        })
  }

  /** Final Page–Hinkley state for a type — the batch `ev_page_hinkley`
    * output row, emitted on flush. */
  case class DriftState(event_type: String, n_days: Long, cum_dev: Double,
                        min_dev: Double, ph_stat: Double, alarm_day: Long)

  /** Page–Hinkley recursion variables carried across closed days. */
  case class PhSt(i: Long, s: Double, m: Double, mn: Double, alarm: Long)

  /** The STREAMING twin of the batch `ev_page_hinkley` operator:
    * `DriftEv` stream → per-type final Page–Hinkley drift verdicts. Drift
    * detection is the canonically streaming member of the events
    * battery, so the parity claim matters most here: each closed day's
    * mean folds through the identical PH recursion the batch `aggregate`
    * expression and the DuckDB recursive CTE run — the same IEEE ops in
    * the same order, so the emitted doubles are bit-equal to the batch
    * rows after the same HALF_UP round(6) (StatefulOpsSpec pins exact
    * equality on the real feed). Observed days only: no zero-fill. */
  def driftMonitor(ds: Dataset[DriftEv]): Dataset[DriftState] =
    dayTwin(ds, "PageHinkley", zeroFill = false, PhSt(0L, 0.0, 0.0, 0.0, 0L))(
      (sc, cnt) => sc.toDouble / (100.0 * cnt.toDouble),
      // the batch expression tree, verbatim: m' = m + (x - s'/i' - 0.1);
      // mn' = min(mn, m'); first-alarm day
      (r, x) => {
        val i2 = r.i + 1
        val s2 = r.s + x
        val m2 = r.m + (x - s2 / i2.toDouble - 0.1)
        val mn2 = math.min(r.mn, m2)
        PhSt(i2, s2, m2, mn2, if (r.alarm == 0 && m2 - mn2 > 5.0) i2 else r.alarm)
      },
      (tpe, r) => DriftState(tpe, r.i, r6(r.m), r6(r.mn), r6(r.m - r.mn), r.alarm))

  /** Final Holt smoothing state for a type — the batch `ev_holt` output
    * row, emitted on flush. */
  case class HoltState(event_type: String, n_days: Long, level: Double,
                       trend: Double, forecast_7d: Double, sse: Double)

  /** Holt recursion variables carried across closed days. */
  case class HoltSt(n: Long, l: Double, b: Double, sse: Double)

  /** The STREAMING twin of the batch `ev_holt` operator: `DriftEv` stream
    * (cents = the event's integer cents) → per-type final Holt
    * level/trend/forecast. Each closed day's Σcents/100 folds through the
    * identical Holt recursion the batch `aggregate` expression runs
    * (l′ = 0.5x + 0.5(l+b); b′ = 0.25(l′−l) + 0.75b; sse += err² — same
    * IEEE ops, same order), and every calendar day in a gap folds x = 0,
    * as on the batch spine. The first day seeds l = x₁ exactly like the
    * batch init. Bit-equal after the same HALF_UP round(6)
    * (StatefulOpsSpec pins it). */
  def holtMonitor(ds: Dataset[DriftEv]): Dataset[HoltState] =
    dayTwin(ds, "Holt", zeroFill = true, HoltSt(0L, 0.0, 0.0, 0.0))(
      (sc, _) => sc.toDouble / 100,
      (r, x) =>
        if (r.n == 0) HoltSt(1, x, 0.0, 0.0)
        else {
          val l2 = 0.5 * x + 0.5 * (r.l + r.b)
          val err = x - (r.l + r.b)
          HoltSt(r.n + 1, l2, 0.25 * (l2 - r.l) + 0.75 * r.b, r.sse + err * err)
        },
      (tpe, r) => HoltState(tpe, r.n, r6(r.l), r6(r.b), r6(r.l + 7.0 * r.b), r6(r.sse)))

  /** Final Croston state for a type — the batch `ev_croston` output row,
    * emitted on flush (`croston_forecast` is None when the series never
    * saw a demand day, the batch NULL). */
  case class CrostonState(event_type: String, n_days: Long,
                          n_demand_days: Long, demand_size: Double,
                          demand_interval: Double,
                          croston_forecast: Option[Double])

  /** Croston recursion variables carried across closed days. */
  case class CrostonSt(n: Long, nd: Long, z: Double, p: Double, q: Double)

  /** The STREAMING twin of the batch `ev_croston` operator: `DriftEv`
    * stream (cents = the 0/1 high-value flag; the day's demand is their
    * integer sum) → per-type final Croston demand size/interval/forecast.
    * Croston's intermittent-demand recursion (z/p smoothed separately, q
    * counts the elapsed interval) with the same zero-day synthesis as
    * [[holtMonitor]] (zero days just grow q). Identical IEEE ops in
    * identical order → bit-equal rows after HALF_UP round(6)
    * (StatefulOpsSpec pins it). */
  def crostonMonitor(ds: Dataset[DriftEv]): Dataset[CrostonState] =
    dayTwin(ds, "Croston", zeroFill = true, CrostonSt(0L, 0L, 0.0, 0.0, 1.0))(
      (sc, _) => sc.toDouble,
      (r, x) =>
        if (x > 0) CrostonSt(r.n + 1, r.nd + 1,
          if (r.nd == 0) x else 0.25 * x + 0.75 * r.z,
          if (r.nd == 0) r.q else 0.25 * r.q + 0.75 * r.p,
          1.0)
        else r.copy(n = r.n + 1, q = r.q + 1),
      (tpe, r) => CrostonState(tpe, r.n, r.nd, r6(r.z), r6(r.p),
        if (r.p > 0) Some(r6(r.z / r.p)) else None))

  /** Streaming input row for the cardinality twin: one event's user;
    * `user_id == Long.MinValue` is the per-type flush sentinel. */
  case class CardEv(event_type: String, user_id: Long)

  /** Final HLL verdict for a type — the batch `prof_hll` row without its
    * exact-distinct audit columns (a stream cannot afford the exact
    * companion; that asymmetry is the point of the sketch). */
  case class CardState(event_type: String, m_regs: Long, zero_regs: Long,
                       sum_rho: Long, hll_est: Double)

  /** The STREAMING twin of the batch `prof_hll` operator — cardinality
    * sketching is what HLL exists for in a stream: per type a 4096-entry
    * MapState holds bucket → max-rho registers (each arriving user
    * touches exactly ONE register entry — O(1) state I/O per row, state
    * bounded at 4096 entries per type FOREVER), built from the identical
    * md5-derived hash/bucket/rho derivation the batch query and the
    * DuckDB oracle compute, so on flush the emitted registers and
    * estimate are bit-equal to the batch rows (StatefulOpsSpec pins it;
    * the harmonic denominator is exact dyadic arithmetic, so even the
    * float is order-independent). */
  class HllProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        String, CardEv, CardState] {
    @transient private var regs:
        org.apache.spark.sql.streaming.MapState[Long, Long] = _

    override def init(outputMode: OutputMode,
                      timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      regs = getHandle.getMapState[Long, Long]("hll_regs",
        Encoders.scalaLong, Encoders.scalaLong,
        org.apache.spark.sql.streaming.TTLConfig.NONE)

    override def handleInputRows(
        tpe: String, rows: Iterator[CardEv],
        timers: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[CardState] = {
      val md = java.security.MessageDigest.getInstance("MD5")
      def h32(s: String): Long = {
        val d = md.digest(s.getBytes("UTF-8"))
        java.lang.Long.parseLong(d.take(4).map("%02x".format(_)).mkString, 16)
      }
      val out = Vector.newBuilder[CardState]
      for (e <- rows) {
        if (e.user_id == Long.MinValue) {
          // flush: fold the registers through the batch expression tree
          var nz = 0L; var sumRho = 0L; var sneg = 0.0
          val it = regs.iterator()
          while (it.hasNext) {
            val kv = it.next()
            nz += 1; sumRho += kv._2
            sneg += 1.0 / (1L << kv._2.toInt).toDouble
          }
          val denom = (4096L - nz).toDouble + sneg
          val raw = 0.7213 / (1.0 + 1.079 / 4096.0) * 4096.0 * 4096.0 / denom
          val v = 4096L - nz
          val est = if (raw <= 10240.0 && v > 0)
            4096.0 * math.log(4096.0 / v.toDouble) else raw
          out += CardState(tpe, 4096L, v, sumRho, r6(est))
        } else {
          val h = h32(s"u:${e.user_id}")
          val bk = h / 1048576L; val rem = h % 1048576L
          val rho = if (rem == 0) 21L
            else 21L - java.lang.Long.toBinaryString(rem).length
          val prev = if (regs.containsKey(bk)) regs.getValue(bk) else 0L
          if (rho > prev) regs.updateValue(bk, rho)
        }
      }
      out.result().iterator
    }
  }

  /** `CardEv` stream → per-type HLL distinct-user verdicts on flush.
    * Requires RocksDB (transformWithState). */
  def cardinalitySketch(ds: Dataset[CardEv]): Dataset[CardState] = {
    implicit val enc: Encoder[CardState] = Encoders.product[CardState]
    ds.groupByKey(_.event_type)(Encoders.STRING)
      .transformWithState(new HllProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Append(),
        enc)
  }

  /** `(key, item)` events → per-key Misra–Gries top items (≤ k counters). */
  def heavyHitters(ds: Dataset[(String, String)], k: Int): Dataset[HeavyHitter] = {
    implicit val enc: Encoder[HeavyHitter] = Encoders.product[HeavyHitter]
    ds.groupByKey(_._1)(Encoders.STRING)
      .transformWithState(new MisraGriesProcessor(k),
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Update(),
        enc)
  }

  /** Streaming input row for the engagement twins: one event per user
    * action (only the user and the event time matter). A row with
    * `user_id == FlushUser` is a watermark-advancing sentinel: it passes
    * the EventTimeWatermark node (advancing the clock) but contributes to
    * no day — tests and drain-style shutdowns use it to close the final
    * days. */
  case class UserEv(user_id: Long, ts: java.sql.Timestamp)
  val FlushUser: Long = Long.MinValue

  /** Fan-out contribution: user's activity on some day keeps them
    * "active" for target day `d` (epoch day); `direct` marks d itself. */
  case class DayContribution(d: Long, user_id: Long, direct: Boolean)

  /** Closed engagement day: `dau` = distinct users active ON the day,
    * `active` = distinct users active within the trailing window ending
    * on the day (MAU at 28 days, WAU at 7). */
  case class ActiveDay(day: java.time.LocalDate, dau: Long, active: Long)

  /** DAU/MAU stickiness row (mirrors the batch `ev_stickiness` schema). */
  case class Stickiness(d: java.time.LocalDate, dau: Long, mau: Long,
                        stickiness: Double)

  /** Rolling-WAU row (mirrors the batch `ev_rolling_wau` schema). */
  case class Wau(d: java.time.LocalDate, wau: Long)

  /** The day-closing half of the engagement twins: keyed by TARGET epoch
    * day, each key holds a user→direct MapState (one RocksDB entry per
    * contributing user — O(1) per update, never a whole-set rewrite) plus
    * a one-shot event-time timer at the day's end. Contributions to day d
    * only come from event days in [d−window+1, d], so when the WATERMARK
    * passes end-of-day-d the set is complete: the timer fires, the day
    * emits exactly the batch aggregate's row (dau = direct users, active
    * = all users; phantom days with dau = 0 stay silent), and the state
    * frees — live state is bounded by (window × users/day), the same
    * volume the batch fan-out shuffles. Keys hash across executors; no
    * single-task funnel at any user or day cardinality. */
  class ActiveWindowProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, DayContribution, ActiveDay] {
    @transient private var users:
        org.apache.spark.sql.streaming.MapState[Long, Boolean] = _
    @transient private var armed:
        org.apache.spark.sql.streaming.ValueState[Boolean] = _

    override def init(outputMode: OutputMode,
                      timeMode: org.apache.spark.sql.streaming.TimeMode): Unit = {
      users = getHandle.getMapState[Long, Boolean]("users",
        Encoders.scalaLong, Encoders.scalaBoolean,
        org.apache.spark.sql.streaming.TTLConfig.NONE)
      armed = getHandle.getValueState[Boolean]("armed",
        Encoders.scalaBoolean, org.apache.spark.sql.streaming.TTLConfig.NONE)
    }

    override def handleInputRows(
        day: Long, rows: Iterator[DayContribution],
        timers: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[ActiveDay] = {
      rows.foreach { r =>
        val direct = r.direct ||
          (users.containsKey(r.user_id) && users.getValue(r.user_id))
        users.updateValue(r.user_id, direct)
      }
      if (!armed.exists()) { // one live timer per day: end-of-day epoch ms
        getHandle.registerTimer((day + 1L) * 86400000L)
        armed.update(true)
      }
      Iterator.empty
    }

    override def handleExpiredTimer(
        day: Long,
        timers: org.apache.spark.sql.streaming.TimerValues,
        expired: org.apache.spark.sql.streaming.ExpiredTimerInfo)
        : Iterator[ActiveDay] = {
      var dau = 0L
      var act = 0L
      users.iterator().foreach { case (_, direct) =>
        act += 1; if (direct) dau += 1
      }
      users.clear()
      armed.clear()
      if (dau > 0)
        Iterator.single(ActiveDay(java.time.LocalDate.ofEpochDay(day), dau, act))
      else Iterator.empty // phantom day: window tail with no direct activity
    }
  }

  /** Shared fan-out + state chain of [[rollingStickiness]] /
    * [[rollingWau]]: watermark on the raw event time, map-side explode of
    * each event's ≤ `windowDays` target days (the batch queries' exact
    * shape), then the day-keyed closing processor. */
  private def activeDays(ds: Dataset[UserEv], windowDays: Int): Dataset[ActiveDay] = {
    implicit val outEnc: Encoder[ActiveDay] = Encoders.product[ActiveDay]
    implicit val contribEnc: Encoder[DayContribution] = Encoders.product[DayContribution]
    ds.toDF("user_id", "ts").withWatermark("ts", "0 seconds")
      .as[UserEv](Encoders.product[UserEv])
      .flatMap { ev =>
        if (ev.user_id == FlushUser) Iterator.empty
        else {
          val day = Math.floorDiv(ev.ts.getTime, 86400000L)
          (0 until windowDays).iterator
            .map(k => DayContribution(day + k, ev.user_id, k == 0))
        }
      }
      .groupByKey(_.d)(Encoders.scalaLong)
      .transformWithState(new ActiveWindowProcessor,
        org.apache.spark.sql.streaming.TimeMode.EventTime(),
        OutputMode.Append(),
        outEnc)
  }

  /** The STREAMING twin of the batch `ev_stickiness` operator: one
    * DAU/MAU/stickiness row per observed day, emitted when the watermark
    * closes the day. On an event-time-ordered feed (plus a [[FlushUser]]
    * sentinel to close the tail) the output EQUALS the batch/DuckDB-
    * oracle result row-for-row — StatefulOpsSpec pins it across
    * micro-batches. Requires the RocksDB state store provider
    * (transformWithState). */
  def rollingStickiness(ds: Dataset[UserEv]): Dataset[Stickiness] = {
    implicit val enc: Encoder[Stickiness] = Encoders.product[Stickiness]
    activeDays(ds, 28).map { a =>
      Stickiness(a.day, a.dau, a.active, r6(a.dau.toDouble / a.active))
    }
  }

  /** The STREAMING twin of the batch `ev_rolling_wau` operator: one
    * trailing-7-day distinct-active-users row per observed day. Same
    * parity contract as [[rollingStickiness]]. */
  def rollingWau(ds: Dataset[UserEv]): Dataset[Wau] = {
    implicit val enc: Encoder[Wau] = Encoders.product[Wau]
    activeDays(ds, 7).map(a => Wau(a.day, a.active))
  }

  /** Stream-stream interval join (ad attribution): each click joins the
    * impression with the same ad_id it followed within `windowMinutes`.
    * Both sides carry watermarks and the join condition bounds click_ts
    * relative to impression_ts on BOTH ends — the two requirements that let
    * the engine drop impression state once its attribution window has
    * passed the watermark and click state once it can no longer match, so
    * join-state memory is bounded by (arrival rate × window), not stream
    * length. Inner join: unmatched rows age out of state silently. */
  def attributeClicks(imps: Dataset[Impression], clicks: Dataset[Click],
                      windowMinutes: Int = 10): Dataset[(String, java.sql.Timestamp, java.sql.Timestamp)] = {
    import org.apache.spark.sql.functions.{col, expr}
    implicit val enc: Encoder[(String, java.sql.Timestamp, java.sql.Timestamp)] =
      Encoders.tuple(Encoders.STRING, Encoders.TIMESTAMP, Encoders.TIMESTAMP)
    val i = imps.withWatermark("impression_ts", s"$windowMinutes minutes")
    val c = clicks.withWatermark("click_ts", s"${windowMinutes * 2} minutes")
    i.join(c,
        i("ad_id") === c("ad_id") &&
          c("click_ts") >= i("impression_ts") &&
          c("click_ts") <= i("impression_ts") + expr(s"INTERVAL $windowMinutes MINUTES"))
      .select(i("ad_id"), col("impression_ts"), col("click_ts"))
      .as[(String, java.sql.Timestamp, java.sql.Timestamp)]
  }
}
