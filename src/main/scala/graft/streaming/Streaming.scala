package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, GroupState, GroupStateTimeout, ListState, MapState, OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}

/** Structured Streaming surface over the `events` stream: watermarked
  * tumbling-window aggregation and custom sessionization state.
  *
  * The reference itself is batch-only (SURVEY.md §2.2), so this is the
  * engine's forward-looking stream path: the same event schema processed
  * incrementally. Design points for scale:
  *
  *   - event-time windows + watermark bound state (late data beyond the
  *     watermark is dropped, state is evicted) — without the watermark a
  *     100 TB/day stream grows state without bound;
  *   - sessionization uses `flatMapGroupsWithState` with a processing-time
  *     timeout so sessions close even for users that go silent;
  *   - aggregations are keyed (`groupBy` window+type / `groupByKey` user) —
  *     state is hash-partitioned across executors, no global state.
  */
object Streaming {

  /** One input event (mirrors events.parquet). */
  final case class Event(
      event_id: Long,
      ts: Timestamp,
      user_id: Long,
      event_type: String,
      value: Double
  )

  /** One closed (or flushed) session. */
  final case class Session(
      user_id: Long,
      session_start: Timestamp,
      session_end: Timestamp,
      n_events: Long,
      total_value: Double
  )

  /** In-flight session state (public: the state Encoder's generated
    * serializer must see the constructor — Janino cannot instantiate a
    * private nested case class).
    */
  final case class SessionState(
      start: Long,
      last: Long,
      n: Long,
      total: Double
  )

  /** Watermarked tumbling-window counts per event type: the canonical
    * incremental aggregation. 10-minute windows, 30-minute watermark.
    */
  def windowedCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "30 minutes")
      .groupBy(window(col("ts"), "10 minutes").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("total_value"))
      .select(col("w.start").as("window_start"), col("event_type"),
              col("n_events"), col("total_value"))

  /** Session gap: events from the same user separated by more than this are
    * different sessions (matches the batch `q_sessionize` query's gap).
    */
  val SessionGapMs: Long = 30L * 60 * 1000

  /** The `session_window` boundary invariant, enforced (shared by the batch
    * and streaming session-window gates so the guard and the operators it
    * protects derive the gap from ONE constant): the built-in window is
    * half-open (an event at EXACTLY the gap starts a new session) while the
    * lag oracle's strict `> gap` keeps it — the two agree iff NO
    * consecutive per-user pair sits exactly at the gap. A fixture change to
    * quantized timestamps fails here loudly instead of silently diverging.
    */
  def requireNoExactGapPairs(events: DataFrame, what: String): Unit = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts"))
    val exactGapPairs = events
      .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(w))
      .where(unix_micros(col("ts")) - col("prev_us") === lit(SessionGapMs * 1000L))
      .count()
    require(exactGapPairs == 0L,
      s"$what boundary invariant violated: $exactGapPairs consecutive pairs at " +
      "exactly the session gap — half-open session_window and the strict-> lag " +
      "oracle would diverge; pick one boundary form for this data")
  }

  /** Custom stateful sessionization: emits a [[Session]] whenever a user's
    * gap exceeds [[SessionGapMs]]; with `flushOnTimeout` (production
    * setting) open sessions also flush after a processing-time timeout so
    * silent users' sessions close. Tests pass `flushOnTimeout = false`:
    * with a timeout registered, an `AvailableNow` lifecycle keeps
    * scheduling wake-up batches and never quiesces.
    */
  def sessionize(events: Dataset[Event], flushOnTimeout: Boolean = true): Dataset[Session] = {
    import events.sparkSession.implicits._
    val timeoutConf =
      if (flushOnTimeout) GroupStateTimeout.ProcessingTimeTimeout()
      else GroupStateTimeout.NoTimeout()
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, Session](
        OutputMode.Append(), timeoutConf) {
        (userId: Long, it: Iterator[Event], state: GroupState[SessionState]) =>
          sessionStep(userId, it, state,
            onOpen = _ => if (flushOnTimeout) state.setTimeoutDuration(SessionGapMs))
      }
  }

  /** The sessionizer with the PRODUCTION close path: event-time timeout.
    * Each update arms `state.setTimeoutTimestamp(last + gap)`; when the
    * WATERMARK passes that instant the group fires with `hasTimedOut` and
    * the open session emits — no per-user sentinels, no wall-clock. This
    * is the close semantics a real deployment runs (a user who goes
    * silent has their session emitted as soon as event time provably
    * passes their gap), and the timeout is deterministic in event time,
    * so a batch oracle can grade it. Requires a watermark on `ts`
    * upstream (EventTimeTimeout's contract); in-order (time-banded)
    * arrival guarantees last+gap is always ahead of the current watermark
    * (setTimeoutTimestamp rejects timestamps the watermark already
    * passed).
    */
  def sessionizeEventTimeout(events: Dataset[Event]): Dataset[Session] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", s"${SessionGapMs / 60000} minutes")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, Session](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (userId: Long, it: Iterator[Event], state: GroupState[SessionState]) =>
          sessionStep(userId, it, state,
            onOpen = s => state.setTimeoutTimestamp(s.last + SessionGapMs))
      }
  }

  /** The THIRD sessionizer implementation, on the state-v2 API: a
    * [[StatefulProcessor]] run through `transformWithState` (TimeMode
    * EventTime) — typed `ValueState` + explicit per-key TIMERS instead of
    * `GroupState`'s single implicit timeout. Each update re-arms one timer
    * at last+gap (the superseded deadline is deleted — the API allows many
    * timers per key, this operator wants exactly one live); when the
    * watermark passes the timer, `handleExpiredTimer` emits the open
    * session and clears state. Same semantics as
    * [[sessionizeEventTimeout]] by a different state machine — and the
    * operator REQUIRES the RocksDB state store provider, so its gate also
    * re-proves the off-heap backend against the same oracle. This is the
    * API Spark is moving arbitrary state to; a user migrating off
    * `flatMapGroupsWithState` copies this shape.
    */
  def sessionizeTws(events: Dataset[Event]): Dataset[Session] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", s"${SessionGapMs / 60000} minutes")
      .groupByKey(_.user_id)
      .transformWithState(new SessionProcessor, TimeMode.EventTime(), OutputMode.Append())
  }

  /** The state machine behind [[sessionizeTws]]. Serializable; state
    * handles are acquired in `init` on the executor.
    */
  final class SessionProcessor extends StatefulProcessor[Long, Event, Session] {
    @transient private var st: ValueState[SessionState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[SessionState](
        "session", Encoders.product[SessionState], TTLConfig.NONE)

    override def handleInputRows(
        userId: Long, rows: Iterator[Event], tv: TimerValues): Iterator[Session] = {
      val prev = if (st.exists()) Some(st.get()) else None
      val prevDeadline = prev.map(_.last + SessionGapMs)
      val (cur, closed) = foldSessions(userId, rows, prev)
      cur.foreach { s =>
        st.update(s)
        val deadline = s.last + SessionGapMs
        prevDeadline.filter(_ != deadline).foreach(getHandle.deleteTimer)
        getHandle.registerTimer(deadline)
      }
      closed.iterator
    }

    override def handleExpiredTimer(
        userId: Long, tv: TimerValues, info: ExpiredTimerInfo): Iterator[Session] =
      if (st.exists()) {
        val s = st.get()
        // guard against a stale timer (superseded deadline whose delete
        // raced the fire): only a timer at-or-past the CURRENT deadline
        // closes the session
        if (info.getExpiryTimeInMs >= s.last + SessionGapMs) {
          st.clear()
          Iterator.single(
            Session(userId, new Timestamp(s.start), new Timestamp(s.last), s.n, s.total))
        } else Iterator.empty
      } else Iterator.empty
  }

  /** One attributed (purchase, click) pair emitted by
    * [[AttributionProcessor]].
    */
  final case class AttributedClick(purchase_id: Long, click_id: Long, click_ts: Timestamp)

  /** The attribution CLICK BUFFER re-implemented on state-v2 ListState —
    * the second of the three `transformWithState` state column families
    * (ValueState is gated by [[SessionProcessor]]): per user, the buffered
    * clicks ARE a list, appended per click, scanned per purchase, pruned by
    * the lookback horizon. Single stream, no join operator — the state
    * machine computes the same (purchase, click) interval pairs as the
    * symmetric-hash join, which is what lets the SAME batch interval-join
    * oracle grade a third implementation. Requires in-order (time-banded)
    * arrival: a purchase's matching clicks are all in the buffer (or
    * earlier in the same sorted batch) when it is processed.
    */
  def attributionListState(events: Dataset[Event]): Dataset[AttributedClick] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .transformWithState(new AttributionProcessor, TimeMode.None(), OutputMode.Append())
  }

  /** The state machine behind [[attributionListState]]. */
  final class AttributionProcessor extends StatefulProcessor[Long, Event, AttributedClick] {
    @transient private var clicks: ListState[Event] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      clicks = getHandle.getListState[Event](
        "clicks", Encoders.product[Event], TTLConfig.NONE)

    override def handleInputRows(
        userId: Long, rows: Iterator[Event], tv: TimerValues): Iterator[AttributedClick] = {
      val lookbackMs = AttributionDays.toLong * 24 * 3600 * 1000
      val sorted = rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
      var buf = if (clicks.exists()) clicks.get().toVector else Vector.empty
      val fresh = Vector.newBuilder[Event]
      val out = Seq.newBuilder[AttributedClick]
      sorted.foreach { e =>
        e.event_type match {
          case "click" => buf :+= e; fresh += e
          case "purchase" =>
            val t = e.ts.getTime
            buf.foreach { c =>
              if (c.ts.getTime < t && c.ts.getTime >= t - lookbackMs)
                out += AttributedClick(e.event_id, c.event_id, c.ts)
            }
          case _ => ()
        }
      }
      // bounded state: banded in-order arrival means every future event has
      // ts >= this batch's max, so a click older than (maxSeen - lookback)
      // can never match a future purchase — prune it from the list now.
      // Append-dominant access: when the horizon removed nothing, only the
      // NEW clicks touch state (appendValue); a full put() rewrite happens
      // only on the batches where pruning actually dropped entries.
      val horizon = sorted.lastOption.map(_.ts.getTime - lookbackMs)
      val kept = horizon.fold(buf)(h => buf.filter(_.ts.getTime >= h))
      if (kept.isEmpty) clicks.clear()
      else if (kept.length == buf.length) fresh.result().foreach(clicks.appendValue)
      else clicks.put(kept.toArray)
      out.result().iterator
    }
  }

  /** CDC LWW snapshot maintenance re-implemented on state-v2 MapState —
    * the third `transformWithState` state column family: keys are SHARDS
    * (user_id mod `shards`) and each shard's state is a map user →
    * materialized row. This is the production consolidation shape for
    * billions of small keys (state-store key count = shards, not users;
    * per-user rows are map entries in the same column family). The fold is
    * the identical order-insensitive LWW as [[cdcState]], so the same
    * batch oracle grades it.
    */
  def cdcMapState(changes: Dataset[CdcChange], shards: Int = 16): Dataset[CdcEmit] = {
    import changes.sparkSession.implicits._
    changes
      .groupByKey(c => (c.user_id % shards).toInt)
      .transformWithState(new CdcShardProcessor, TimeMode.None(), OutputMode.Update())
  }

  /** The state machine behind [[cdcMapState]]. */
  final class CdcShardProcessor extends StatefulProcessor[Int, CdcChange, CdcEmit] {
    @transient private var snap: MapState[Long, CdcState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      snap = getHandle.getMapState[Long, CdcState](
        "snap", Encoders.scalaLong, Encoders.product[CdcState], TTLConfig.NONE)

    override def handleInputRows(
        shard: Int, rows: Iterator[CdcChange], tv: TimerValues): Iterator[CdcEmit] = {
      val touched = scala.collection.mutable.LinkedHashMap.empty[Long, CdcState]
      rows.foreach { c =>
        val st = touched.getOrElse(c.user_id,
          if (snap.containsKey(c.user_id)) snap.getValue(c.user_id) else CdcZero)
        touched(c.user_id) = lwwStep(st, c)
      }
      touched.foreach { case (uid, st) => snap.updateValue(uid, st) }
      touched.iterator.map { case (uid, st) =>
        CdcEmit(uid, st.ts_micros, st.event_id, st.op, st.cents, st.n_changes)
      }.toSeq.iterator
    }
  }

  /** One `flatMapGroupsWithState` invocation of the session fold, shared
    * by both close paths: on timeout emit-and-clear the open session;
    * otherwise fold this batch's events in event-time order, emitting
    * every session closed by a gap and arming `onOpen` for the one left
    * open.
    */
  private def sessionStep(
      userId: Long,
      it: Iterator[Event],
      state: GroupState[SessionState],
      onOpen: SessionState => Unit): Iterator[Session] =
    if (state.hasTimedOut) {
      val out = state.getOption.map(s =>
        Session(userId, new Timestamp(s.start), new Timestamp(s.last), s.n, s.total))
      state.remove()
      out.iterator
    } else {
      val (cur, closed) = foldSessions(userId, it, state.getOption)
      cur match {
        case Some(s) =>
          state.update(s)
          onOpen(s)
        case None => state.remove()
      }
      closed.iterator
    }

  /** The gap fold both sessionizer state machines share: one batch of a
    * user's events, in event-time order, extends the `open` session while
    * each gap is ≤ [[SessionGapMs]] and closes it at a longer gap. Returns
    * the session left open and the sessions closed.
    */
  private def foldSessions(userId: Long, events: Iterator[Event],
                           open: Option[SessionState]): (Option[SessionState], Seq[Session]) = {
    var cur = open
    val closed = Seq.newBuilder[Session]
    events.toSeq.sortBy(_.ts.getTime).foreach { e =>
      val t = e.ts.getTime
      cur match {
        case Some(s) if t - s.last <= SessionGapMs =>
          cur = Some(s.copy(last = t, n = s.n + 1, total = s.total + e.value))
        case Some(s) =>
          closed += Session(userId, new Timestamp(s.start), new Timestamp(s.last), s.n, s.total)
          cur = Some(SessionState(t, t, 1L, e.value))
        case None =>
          cur = Some(SessionState(t, t, 1L, e.value))
      }
    }
    (cur, closed.result())
  }

  /** Streaming exact dedup of a document stream: one row per normalized
    * content hash, duplicates arriving within the watermark horizon
    * dropped. `dropDuplicatesWithinWatermark` bounds the state store to the
    * watermark window — the only formulation that survives an unbounded
    * stream (plain `dropDuplicates` keys state forever). The batch twin is
    * the `dedup_exact` query.
    */
  def streamingDedup(docs: DataFrame, watermark: String = "1 hour"): DataFrame =
    docs
      .withColumn("content_md5", graft.text.TextAnalysis.contentHash(col("text")))
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("content_md5")

  /** Attribution lookback: a purchase is credited to the same user's
    * clicks in the [purchase − window, purchase) interval.
    */
  val AttributionDays: Int = 7

  /** Stream–stream interval join: purchases matched to the same user's
    * preceding clicks. Both sides carry a watermark AND the join carries
    * the time-range predicate — together they let Spark bound the join
    * state store (click state older than purchase-watermark −
    * AttributionDays is evicted; without the range bound, stream-stream
    * join state grows forever). Matches emit incrementally as both sides
    * arrive; the state is hash-partitioned by the equi-key (user_id). The
    * batch twin is the q_asof/q_funnel interval-join family.
    */
  def clickAttribution(events: DataFrame): DataFrame =
    attributionJoin(events, "inner")

  /** The one projection + watermark + interval-condition block shared by
    * the whole attribution join family — the three public legs differ ONLY
    * in join type, so the lookback predicate and watermark delay have
    * exactly one definition to drift from. Purchases are the left side in
    * every leg (the outer legs' null semantics are defined from there;
    * for the inner leg the side order is semantically irrelevant).
    */
  private def attributionJoin(events: DataFrame, joinType: String): DataFrame = {
    val clicks = events.where(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id").as("c_user"),
              col("ts").as("click_ts"))
      .withWatermark("click_ts", "1 hour")
    val purchases = events.where(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id").as("p_user"),
              col("ts").as("purchase_ts"))
      .withWatermark("purchase_ts", "1 hour")
    purchases.join(
      clicks,
      col("c_user") === col("p_user") &&
        col("click_ts") < col("purchase_ts") &&
        col("click_ts") >= col("purchase_ts") - expr(s"INTERVAL $AttributionDays DAYS"),
      joinType)
  }

  /** The LEFT OUTER half of attribution: EVERY purchase emits — matched
    * purchases as (purchase, click) pairs as soon as both sides arrive
    * (inner-join behavior), and a purchase with NO click in its lookback
    * as a single null-click row, emitted only once the CLICK-side
    * watermark proves no matching click can still arrive (clicks join
    * strictly before the purchase, so click-watermark ≥ purchase_ts is
    * the proof of absence). This late, watermark-gated null emission is
    * the hardest semantics in the stateful-join family: emit early and a
    * straggler click makes the null row WRONG; never emit and unmatched
    * purchases silently vanish from the attribution report. Both
    * watermarks plus the interval predicate bound both state stores
    * exactly as in the inner join.
    */
  def clickAttributionLeftOuter(events: DataFrame): DataFrame =
    attributionJoin(events, "leftOuter")

  /** The FULL OUTER attribution join — both null paths at once: every
    * purchase emits (matched, or null-click once the click watermark
    * proves absence, as in [[clickAttributionLeftOuter]]) AND every click
    * emits (matched to each purchase in its FORWARD window, or a
    * null-purchase row once the watermark proves no purchase with
    * ts ≤ click_ts + lookback can still arrive — the click-side proof
    * needs the watermark a full lookback PAST the click, which is why the
    * harness sentinels sit at max+7d: the two sides' absence proofs have
    * different horizons, the asymmetry that makes full-outer the general
    * case of the family). Same watermarks + interval predicate bound both
    * state stores.
    */
  def clickAttributionFullOuter(events: DataFrame): DataFrame =
    attributionJoin(events, "fullOuter")

  /** TWO STATEFUL OPERATORS IN ONE QUERY — the stream-stream interval join
    * CHAINED into a watermarked tumbling-window aggregation (daily
    * attributed-pair rollup). This is the pipeline shape Spark 4's
    * multi-stateful-operator support exists for
    * (`spark.sql.streaming.statefulOperator.allowMultiple`): the join's
    * output watermark must propagate into the window operator shifted by
    * the join's state horizon, so windows close exactly when the engine
    * can PROVE no further pair with that purchase-day can emit — one
    * operator's eviction contract feeding the next's emission contract.
    * The join's watermark column (`purchase_ts`) flows through AS the
    * aggregation's event time — re-declaring it downstream is disallowed
    * under allowMultiple (the engine owns the propagated value); append
    * mode emits each closed day-window once.
    */
  def attributionDailyRollup(events: DataFrame): DataFrame =
    attributionJoin(events, "inner")
      .groupBy(window(col("purchase_ts"), "1 day").as("w"))
      .agg(count(lit(1)).as("n_pairs"),
           min(col("purchase_id")).as("min_purchase_id"),
           max(col("purchase_id")).as("max_purchase_id"))
      .select(col("w.start").as("window_start"),
              col("n_pairs"), col("min_purchase_id"), col("max_purchase_id"))

  /** Stream–static dimension enrichment: the event stream broadcast-hash-
    * joined to a static dimension (the canonical "attach the customer
    * segment to every event" pipeline stage). Stateless — no watermark, no
    * state store; the static side is broadcast and the join is re-planned
    * per microbatch, which is exactly how a slowly-refreshed dimension
    * behaves in production (a new broadcast per batch picks up dim
    * updates). Inner join: events without a dimension row are dropped,
    * matching the batch twin.
    */
  def enrich(events: DataFrame, dim: DataFrame): DataFrame =
    events.join(org.apache.spark.sql.functions.broadcast(dim),
                col("user_id") === col("c_custkey"))
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"),
              col("c_mktsegment").as("segment"))

  /** One keyed hash flowing into [[kmvSketch]]: the shard key `sub` spreads
    * one group's state over several state-store partitions.
    */
  final case class SubHash(grp: String, sub: Int, h: Long)

  /** KMV shard state (public for the same Janino reason as
    * [[SessionState]]): items folded so far and the current k-min sketch.
    */
  final case class KmvState(n: Long, sketch: Seq[Long])

  /** One sub-sketch emission: shard (grp, sub)'s state after a batch. */
  final case class KmvSubSketch(grp: String, sub: Int, n_seen: Long, sketch: Seq[Long])

  /** Streaming KMV distinct-cardinality sketch: O(k) state per shard
    * however long the stream runs — the sketch that makes streaming
    * distinct-counting bounded-state (keying raw values instead keeps one
    * state row per distinct value forever). Because the k-min fold is
    * ORDER- and DUPLICATE-INSENSITIVE, the final sketch is byte-identical
    * to the batch KMV over the same multiset regardless of arrival order
    * or micro-batch boundaries — which is what lets a batch oracle check
    * the stream bit-for-bit (`q_streaming_kmv`). Sharding by `sub` is the
    * production parallelism shape: each shard folds independently and the
    * reader MERGES shard sketches (k smallest of their concatenation — the
    * composability `q_kmv_overlap` relies on), so state is partitioned
    * across executors like any keyed stream.
    */
  def kmvSketch(hashes: Dataset[SubHash], k: Int): Dataset[KmvSubSketch] = {
    import hashes.sparkSession.implicits._
    hashes
      .groupByKey(r => (r.grp, r.sub))
      .mapGroupsWithState[KmvState, KmvSubSketch](GroupStateTimeout.NoTimeout()) {
        case ((grp, sub), it, state) =>
          val st = state.getOption.getOrElse(KmvState(0L, Seq.empty))
          val hs = it.map(_.h).toSeq
          val next = KmvState(st.n + hs.length,
                              (st.sketch ++ hs).distinct.sorted.take(k))
          state.update(next)
          KmvSubSketch(grp, sub, next.n, next.sketch)
      }
  }

  /** One term routed to its Misra–Gries shard (term-hash sharding: every
    * occurrence of a term lands in ONE shard, which is what makes the
    * union of shard summaries a valid global summary — see [[mgSketch]]).
    */
  final case class ShardTerm(shard: Int, term: String)

  /** MG shard state (public for the Janino reason, see [[SessionState]]). */
  final case class MgState(n: Long, sums: Map[String, Long])

  /** One shard-summary emission after a batch. */
  final case class MgShard(shard: Int, n_seen: Long, summary: Map[String, Long])

  /** Streaming Misra–Gries heavy hitters: O(k) counters per shard however
    * long the stream runs, folded across micro-batches with the SAME
    * reduce step the batch aggregator uses (`Udafs.MisraGries`), so the
    * classic guarantee — every term with true count > N_shard/(k+1)
    * survives its shard's summary — holds for any arrival order or batch
    * boundary. Because sharding is BY TERM, a term's entire stream lives
    * in one shard (N_shard ≤ N), so the plain UNION of the shard summaries
    * is a valid global summary of ≤ shards·k counters carrying the full
    * N/(k+1) guarantee — no cross-shard subtract-merge needed, and the
    * reader never has to weaken the bound. Summary CONTENTS beyond the
    * guarantee are arrival-order-dependent (as in batch), so consumers
    * must expose only order-insensitive consequences — the
    * `q_streaming_heavy_hitters` grade does exactly what `q_heavy_hitters`
    * pinned: "every guaranteed term was found".
    */
  def mgSketch(terms: Dataset[ShardTerm], k: Int): Dataset[MgShard] = {
    import terms.sparkSession.implicits._
    val mg = graft.functions.Udafs.MisraGries(k)
    terms
      .groupByKey(_.shard)
      .mapGroupsWithState[MgState, MgShard](GroupStateTimeout.NoTimeout()) {
        case (shard, it, state) =>
          val st = state.getOption.getOrElse(MgState(0L, Map.empty))
          var n = st.n
          var s = st.sums
          it.foreach { r => n += 1; s = mg.reduce(s, r.term) }
          state.update(MgState(n, s))
          MgShard(shard, n, s)
      }
  }

  /** Batch-read the events table with the stream's schema (for parity tests
    * and for replaying history through the same code path).
    */
  def eventsBatch(spark: SparkSession, dir: String): Dataset[Event] = {
    import spark.implicits._
    graft.Tables.events(spark, dir)
      .select(col("event_id"), col("ts").cast("timestamp").as("ts"),
              col("user_id"), col("event_type"), col("value"))
      .as[Event]
  }

  /** One change-log record flowing into [[cdcState]] (ts carried as epoch
    * micros so the state encoder stays primitive-only).
    */
  final case class CdcChange(user_id: Long, ts_micros: Long, event_id: Long, op: String, cents: Long)

  /** Per-key LWW state (public for the Janino reason, see [[SessionState]]):
    * the current winner plus a monotone change counter.
    */
  final case class CdcState(ts_micros: Long, event_id: Long, op: String, cents: Long, n_changes: Long)

  /** One per-key state emission after a batch. */
  final case class CdcEmit(user_id: Long, ts_micros: Long, event_id: Long, op: String, cents: Long, n_changes: Long)

  /** Streaming CDC snapshot maintenance — the incremental counterpart of
    * the batch `q_cdc_snapshot` argmax: per-key last-writer-wins state via
    * `mapGroupsWithState`, O(1) per key however long the changelog runs
    * (the state IS the materialized row). Because LWW by the TOTAL order
    * (ts, event_id) is an order- and batch-boundary-insensitive fold (max
    * is commutative and associative, and event_id uniqueness makes the
    * order total), the final per-key state must equal the batch snapshot
    * exactly — which is what lets the batch DuckDB oracle check the
    * stream bit-for-bit, the `q_streaming_kmv` grading pattern applied to
    * materialized-view maintenance.
    */
  def cdcState(changes: Dataset[CdcChange]): Dataset[CdcEmit] = {
    import changes.sparkSession.implicits._
    changes
      .groupByKey(_.user_id)
      .mapGroupsWithState[CdcState, CdcEmit](GroupStateTimeout.NoTimeout()) {
        case (uid, it, state) =>
          val st = it.foldLeft(state.getOption.getOrElse(CdcZero))(lwwStep)
          state.update(st)
          CdcEmit(uid, st.ts_micros, st.event_id, st.op, st.cents, st.n_changes)
      }
  }

  /** The LWW fold's zero and step — ONE definition shared by every CDC
    * implementation (GroupState, MapState shard, batch bootstrap,
    * initial-state processor), so the total order (ts, event_id) and the
    * n_changes accounting cannot drift between them.
    */
  val CdcZero: CdcState = CdcState(Long.MinValue, Long.MinValue, "", 0L, 0L)

  def lwwStep(st: CdcState, c: CdcChange): CdcState = {
    val newer = c.ts_micros > st.ts_micros ||
      (c.ts_micros == st.ts_micros && c.event_id > st.event_id)
    if (newer) CdcState(c.ts_micros, c.event_id, c.op, c.cents, st.n_changes + 1)
    else st.copy(n_changes = st.n_changes + 1)
  }

  /** One per-batch emission of [[CdcTtlProcessor]]: the LWW fold result
    * plus the OBSERVED size of each TTL'd state family after this batch.
    */
  final case class CdcTtlEmit(user_id: Long, ts_micros: Long, event_id: Long,
                              op: String, cents: Long, n_changes: Long,
                              list_len: Long, map_n: Long)

  /** The CDC LWW fold under STATE TTL, across ALL THREE state column
    * families — the state-hygiene mechanism a production stream relies on
    * when NO WATERMARK bounds the key space (user ids, content hashes
    * churning forever). Every state write stamps expiration =
    * batch-processing-time + ttl; a read past that instant sees no value
    * (ValueState), no element (ListState elements each carry the TTL of
    * the batch that appended them), no entry (MapState entries expire per
    * key); the store's TTL index eventually reclaims the bytes — RocksDB
    * stays bounded however long the stream runs. The value fold is the
    * shared [[lwwStep]] and the list/map sizes ride the same emission, so
    * one rule-derived oracle grades all three families: refreshed within
    * TTL ⇒ fold continues / list grows / map grows; idle past TTL ⇒ all
    * three come back EMPTY and restart. TTL is processing-time by
    * definition (`TimeMode.ProcessingTime`), so the gate that drives this
    * pins batch timestamps from the checkpoint's offset log rather than
    * assuming the host's clock behaved.
    */
  def cdcValueTtl(changes: Dataset[CdcChange], ttlMs: Long): Dataset[CdcTtlEmit] = {
    import changes.sparkSession.implicits._
    changes
      .groupByKey(_.user_id)
      .transformWithState(new CdcTtlProcessor(ttlMs), TimeMode.ProcessingTime(),
                          OutputMode.Update())
  }

  /** The state machine behind [[cdcValueTtl]] — [[CdcInitProcessor]]'s
    * fold with a real TTL on all three state handles instead of
    * `TTLConfig.NONE`.
    */
  final class CdcTtlProcessor(ttlMs: Long) extends StatefulProcessor[Long, CdcChange, CdcTtlEmit] {
    @transient private var st: ValueState[CdcState] = _
    @transient private var seen: ListState[Long] = _
    @transient private var centsByEvent: MapState[Long, Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      val ttl = TTLConfig(java.time.Duration.ofMillis(ttlMs))
      st = getHandle.getValueState[CdcState]("snap", Encoders.product[CdcState], ttl)
      seen = getHandle.getListState[Long]("seen", Encoders.scalaLong, ttl)
      centsByEvent = getHandle.getMapState[Long, Long](
        "cents", Encoders.scalaLong, Encoders.scalaLong, ttl)
    }

    override def handleInputRows(
        userId: Long, rows: Iterator[CdcChange], tv: TimerValues): Iterator[CdcTtlEmit] = {
      var folded = if (st.exists()) st.get() else CdcZero
      rows.foreach { c =>
        folded = lwwStep(folded, c)
        seen.appendValue(c.event_id)
        centsByEvent.updateValue(c.event_id, c.cents)
      }
      st.update(folded)
      val listLen = seen.get().length.toLong
      val mapN = centsByEvent.keys().length.toLong
      Iterator.single(
        CdcTtlEmit(userId, folded.ts_micros, folded.event_id, folded.op, folded.cents,
                   folded.n_changes, listLen, mapN))
    }
  }

  // ---- state schema evolution (round-15) ---------------------------------

  /** Input row for the schema-evolution gate: cents pre-computed with the
    * suite's exact-decimal rule so the state machine is integer-only.
    */
  final case class EvoIn(event_type: String, event_id: Long, cents: Long)
  /** VERSION 1 of the evolving state: count + sum only. */
  final case class EvoStateV1(count: Long, sum_cents: Long)
  final case class EvoEmitV1(event_type: String, n_events: Long, total_cents: Long)
  /** VERSION 2 adds a field. It MUST be nullable (Option) — under the Avro
    * state encoding a new field needs a default (null) for old rows to
    * resolve, exactly the Avro reader-schema rule the storage codec gates
    * pin in `q_avro_evolution`.
    */
  final case class EvoStateV2(count: Long, sum_cents: Long, max_event_id: Option[Long])
  final case class EvoEmitV2(event_type: String, n_events: Long, total_cents: Long,
                             max_event_id: Long)

  def evoV1(in: Dataset[EvoIn]): Dataset[EvoEmitV1] = {
    import in.sparkSession.implicits._
    in.groupByKey(_.event_type)
      .transformWithState(new EvoProcessorV1, TimeMode.None(), OutputMode.Update())
  }

  def evoV2(in: Dataset[EvoIn]): Dataset[EvoEmitV2] = {
    import in.sparkSession.implicits._
    in.groupByKey(_.event_type)
      .transformWithState(new EvoProcessorV2, TimeMode.None(), OutputMode.Update())
  }

  /** The deploy running BEFORE the schema change: per-key count + sum. */
  final class EvoProcessorV1 extends StatefulProcessor[String, EvoIn, EvoEmitV1] {
    @transient private var st: ValueState[EvoStateV1] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[EvoStateV1](
        "agg", Encoders.product[EvoStateV1], TTLConfig.NONE)
    override def handleInputRows(
        key: String, rows: Iterator[EvoIn], tv: TimerValues): Iterator[EvoEmitV1] = {
      var s = if (st.exists()) st.get() else EvoStateV1(0L, 0L)
      rows.foreach(r => s = EvoStateV1(s.count + 1, s.sum_cents + r.cents))
      st.update(s)
      Iterator.single(EvoEmitV1(key, s.count, s.sum_cents))
    }
  }

  /** The deploy running AFTER the schema change: the SAME state name with
    * the V2 type. On the first batch after the upgrade, old state rows
    * resolve with max_event_id = None — the new field starts counting at
    * the cutover while count/sum carry the full history forward.
    */
  final class EvoProcessorV2 extends StatefulProcessor[String, EvoIn, EvoEmitV2] {
    @transient private var st: ValueState[EvoStateV2] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[EvoStateV2](
        "agg", Encoders.product[EvoStateV2], TTLConfig.NONE)
    override def handleInputRows(
        key: String, rows: Iterator[EvoIn], tv: TimerValues): Iterator[EvoEmitV2] = {
      var s = if (st.exists()) st.get() else EvoStateV2(0L, 0L, None)
      rows.foreach { r =>
        s = EvoStateV2(s.count + 1, s.sum_cents + r.cents,
                       Some(math.max(s.max_event_id.getOrElse(Long.MinValue), r.event_id)))
      }
      st.update(s)
      Iterator.single(EvoEmitV2(key, s.count, s.sum_cents,
                                s.max_event_id.getOrElse(-1L)))
    }
  }

  /** CDC LWW maintenance BOOTSTRAPPED FROM BATCH STATE — the migration
    * path every production stream is born through: the snapshot up to a
    * cutover is computed as a BATCH job (cheap, rescannable), handed to
    * `transformWithState` as its initial state, and the stream folds only
    * the changes after the cutover. `handleInitialState` seeds each key's
    * ValueState before the first batch; the live fold then continues the
    * SAME [[lwwStep]], so the final snapshot must be indistinguishable
    * from having streamed all of history.
    */
  def cdcBootstrap(changes: Dataset[CdcChange],
                   init: org.apache.spark.sql.KeyValueGroupedDataset[Long, CdcState]): Dataset[CdcEmit] = {
    import changes.sparkSession.implicits._
    changes
      .groupByKey(_.user_id)
      .transformWithState(new CdcInitProcessor, TimeMode.None(), OutputMode.Update(), init)
  }

  /** The state machine behind [[cdcBootstrap]]. */
  final class CdcInitProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessorWithInitialState[
        Long, CdcChange, CdcEmit, CdcState] {
    @transient private var st: ValueState[CdcState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[CdcState](
        "snap", Encoders.product[CdcState], TTLConfig.NONE)

    override def handleInitialState(
        userId: Long, initialState: CdcState, tv: TimerValues): Unit =
      st.update(initialState)

    override def handleInputRows(
        userId: Long, rows: Iterator[CdcChange], tv: TimerValues): Iterator[CdcEmit] = {
      val folded = rows.foldLeft(if (st.exists()) st.get() else CdcZero)(lwwStep)
      st.update(folded)
      Iterator.single(
        CdcEmit(userId, folded.ts_micros, folded.event_id, folded.op, folded.cents,
                folded.n_changes))
    }
  }
}
