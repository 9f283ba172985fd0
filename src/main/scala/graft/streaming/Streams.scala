package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming twins of the batch time-series operators:
  * the same logical windowed aggregation / sessionization expressed
  * over an unbounded source with watermarks, plus the batch
  * equivalents used for oracle checks.
  *
  * At scale the streaming state store shards by the group key, so
  * the same per-key partitioning argument as the batch path applies;
  * watermarks bound state size.
  */
object Streams {

  // ---- batch equivalents (oracle-checked) -----------------------------

  /** Tumbling-window counts/sums per event type (epoch-aligned, as
    * Spark's window() and DuckDB's time_bucket both are).
    */
  private val Money = org.apache.spark.sql.types.DecimalType(18, 2)

  def windowedAggBatch(events: DataFrame, width: String = "6 hours"): DataFrame =
    events
      .groupBy(window(col("ts"), width).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value").cast(Money)).cast("double").as("total"))
      .select(
        date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
        col("event_type"), col("n"), col("total"))

  /** Gap-based sessionization: a new session starts after `gapMin`
    * minutes of inactivity; session ids are per-user running counts.
    */
  def sessionizeBatch(events: DataFrame, gapMin: Int = 30): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy("ts")
    events
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      .withColumn(
        "new_sess",
        when(col("prev_ts").isNull ||
          unix_micros(col("ts")) - unix_micros(col("prev_ts")) > gapMin * 60L * 1000000L, 1L)
          .otherwise(0L))
      .withColumn("session_id", sum("new_sess").over(byUser.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("user_id"), col("session_id"))
      .agg(
        count(lit(1)).as("n_events"),
        unix_micros(min(col("ts"))).as("start_us"),
        unix_micros(max(col("ts"))).as("end_us"),
        sum(col("value").cast(Money)).cast("double").as("total_value"))
  }

  // ---- streaming twins ------------------------------------------------

  /** Watermarked tumbling-window aggregation over a stream. */
  def windowedAggStream(events: DataFrame, width: String = "6 hours", watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), width), col("event_type"))
      .agg(count(lit(1)).as("n"), sum("value").as("total"))

  /** Event shape for the stateful sessionizer. `ts` is a
    * TimestampType column (java.time.Instant encodes at full
    * microsecond precision) so the stream can carry a watermark —
    * the event-time timeout below is driven by it.
    */
  case class SEv(user_id: Long, ts: java.time.Instant, value: Double)
  /** `totalCents`: the running value sum as exact 2-dp cents — the
    * same DECIMAL(18,2) arithmetic as [[sessionizeBatch]], so the
    * emitted total is bit-equal to the batch sum no matter how the
    * events split across micro-batches (a raw double accumulation
    * would drift with arrival order).
    */
  case class OpenSession(startUs: Long, lastUs: Long, nEvents: Long, totalCents: Long)
  case class SessionOut(user_id: Long, start_us: Long, end_us: Long, n_events: Long, total_value: Double)

  private def cents(v: Double): Long = math.rint(v * 100.0).toLong

  private def instantMicros(i: java.time.Instant): Long =
    i.getEpochSecond * 1000000L + i.getNano / 1000L

  /** Stateful sessionization with flatMapGroupsWithState +
    * EventTimeTimeout: a session is emitted when a later event
    * closes it (gap exceeded) OR when the watermark passes its
    * last-event time + gap — at which point no in-watermark event
    * can ever extend it, so the session is final and its state is
    * REMOVED. State is therefore one small record per ACTIVE user,
    * genuinely bounded by the timeout: idle users' state is evicted
    * (spec-asserted via the state-store row count), not retained
    * forever as a NoTimeout sessionizer would.
    *
    * Emitted (start_us, end_us, n_events, total_value) tuples match
    * [[sessionizeBatch]] exactly on in-order arrival; the per-user
    * session ordinal is deliberately not carried — it cannot survive
    * state eviction, and the session's start time is its identity.
    * A cross-batch out-of-order event still inside the watermark is
    * folded into the open session with a MONOTONE end (max of old
    * and new event time), so it can never shrink the session or
    * re-arm the timeout earlier; arrival before the session's start
    * is approximated by folding into the open session rather than
    * retro-splitting (the one divergence from the batch ordering).
    */
  case class EmaSt(lastUs: Long, ema: Double)
  case class EmaOut(user_id: Long, ts_us: Long, ema: Double)

  /** Streaming EMA(span, adjust=False) per key — the incremental
    * twin the batch fold ([[graft.plans.EmaAggregate]]) points
    * unbounded series at: where the batch aggregate buffers a whole
    * group to sort it (O(group) memory, capped), this folds each
    * event into ONE (lastTs, ema) record per key — O(1) state
    * however long the series runs, which is the whole point of the
    * streaming form.
    *
    * The bounded-universe assumption is enforceable, not just
    * documented: set `graft.emaStream.maxKeys` (or pass a cap) and
    * call [[checkStateBound]] on the running query — it fails loudly
    * from real state-store metrics when the key universe explodes.
    *
    * Arithmetic is EmaAggregate's exactly (seed = first value, then
    * y = α·x + (1−α)·y in event-time order), so on in-order arrival
    * the emitted value is bit-equal to the batch fold
    * (spec-asserted). Within a micro-batch events sort by event
    * time; an event older than the fold point (cross-batch late
    * data past the watermark) cannot be folded retroactively by ANY
    * O(1) recurrence — it is dropped, the same contract as
    * watermarked dedup. State is one 16-byte record per key with no
    * timeout BY DESIGN: an instrument universe is bounded (contrast
    * [[sessionizeStream]], whose user universe is not and which
    * therefore evicts on timeout); emit-and-evict would instead
    * restart every idle key's EMA from scratch.
    */
  def emaStream(events: Dataset[SEv], span: Int, watermark: String = "10 minutes"): Dataset[EmaOut] = {
    import events.sparkSession.implicits._
    val alpha = 2.0 / (span + 1)
    events
      .withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout()) {
        (uid: Long, evs: Iterator[SEv], state: GroupState[EmaSt]) =>
          val sorted = evs.toArray.sortBy(e => (instantMicros(e.ts), e.value))
          var st = state.getOption.orNull
          sorted.foreach { e =>
            val us = instantMicros(e.ts)
            if (st == null) st = EmaSt(us, e.value)
            else if (us > st.lastUs) st = EmaSt(us, alpha * e.value + (1 - alpha) * st.ema)
            // us <= lastUs: behind the fold point — dropped by contract
          }
          state.update(st)
          EmaOut(uid, st.lastUs, st.ema)
      }
  }

  case class DdSt(lastUs: Long, peak: Double)
  case class DdOut(user_id: Long, ts_us: Long, value: Double, peak: Double, drawdown: Double)

  /** Streaming drawdown per key — the incremental twin of the batch
    * running-max drawdown ([[graft.operators.TimeSeries]] q_max_
    * drawdown family): ONE 16-byte (lastUs, peak) record per key, so
    * state is bounded by the instrument universe however long the
    * stream runs. Each arriving tick emits its current peak and
    * drawdown = value/peak − 1; the running max is associative, so
    * in-order arrival reproduces the batch fold bit-exactly
    * (spec-asserted). In-batch sort on (ts, value) and the behind-
    * the-fold-point drop follow the [[emaStream]] contract;
    * [[enforceStateBound]] applies.
    */
  def drawdownStream(events: Dataset[SEv], watermark: String = "10 minutes"): Dataset[DdOut] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (uid: Long, evs: Iterator[SEv], state: GroupState[DdSt]) =>
          val sorted = evs.toArray.sortBy(e => (instantMicros(e.ts), e.value))
          var st  = state.getOption.orNull
          val out = scala.collection.mutable.ArrayBuffer.empty[DdOut]
          sorted.foreach { e =>
            val us = instantMicros(e.ts)
            if (st == null || us > st.lastUs) {
              val peak = if (st == null) e.value else math.max(st.peak, e.value)
              st = DdSt(us, peak)
              out += DdOut(uid, us, e.value, peak, if (peak != 0) e.value / peak - 1 else 0.0)
            }
            // us <= lastUs: behind the fold point — dropped by contract
          }
          if (st != null) state.update(st)
          out.iterator
      }
  }

  case class TEv(user_id: Long, ts: java.time.Instant, event_id: Long, event_type: String)
  case class TransOut(user_id: Long, prev_type: String, next_type: String, ts_us: Long)

  /** Streaming event-type transition edges — the incremental twin of
    * [[graft.operators.EventAnalytics.topTransitions]]: each user's
    * state is ONE record (last event's ts/event_id/type — O(1)
    * however long the stream runs), and every arriving event emits
    * the (previous type -> this type) edge before advancing the
    * fold point. Within a micro-batch events sort by (ts, event_id)
    * — the batch operator's exact tiebreak — so on in-order arrival
    * the emitted edge multiset equals the batch lag-window's
    * (spec-asserted). An event at or behind the fold point
    * (cross-batch late data) cannot be spliced into an already-
    * emitted adjacency by ANY O(1) recurrence — dropped, the
    * [[emaStream]] contract. Edge counts aggregate downstream
    * (map-side partials over the emitted edges); state is bounded
    * by the user universe, enforceable via [[enforceStateBound]].
    */
  def transitionsStream(events: Dataset[TEv], watermark: String = "10 minutes"): Dataset[TransOut] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (uid: Long, evs: Iterator[TEv], state: GroupState[(Long, Long, String)]) =>
          val sorted = evs.toArray.sortBy(e => (instantMicros(e.ts), e.event_id))
          var st  = state.getOption.orNull
          val out = scala.collection.mutable.ArrayBuffer.empty[TransOut]
          sorted.foreach { e =>
            val us = instantMicros(e.ts)
            if (st == null) st = (us, e.event_id, e.event_type)
            else if (us > st._1 || (us == st._1 && e.event_id > st._2)) {
              out += TransOut(uid, st._3, e.event_type, us)
              st = (us, e.event_id, e.event_type)
            }
            // at/behind the fold point: dropped by contract
          }
          state.update(st)
          out.iterator
      }
  }

  case class FunnelConv(user_id: Long, stage: Int, ts_us: Long)

  /** Streaming ordered funnel — the incremental twin of
    * [[graft.operators.EventAnalytics.funnel]]: emits a
    * (user, stage, ts) row the moment a user first converts a stage,
    * under the batch operator's ORDER semantics (stage i converts
    * only at/after the stage-(i−1) conversion time). State is ONE
    * fixed array of per-stage first-conversion timestamps per user —
    * O(stages), however long the stream — and events sort within
    * each batch on (ts, event_id) (the [[transitionsStream]]
    * in-batch discipline), so in-order arrival reproduces the batch
    * funnel's conversion set exactly (spec-asserted); an
    * out-of-watermark straggler that would have converted EARLIER
    * than the recorded time is dropped by contract. Downstream
    * per-stage counts are one streaming aggregate over the tiny
    * conversion stream.
    */
  def funnelStream(events: Dataset[TEv],
                   stages: Seq[String] = Seq("view", "click", "purchase"),
                   watermark: String = "10 minutes"): Dataset[FunnelConv] = {
    import events.sparkSession.implicits._
    val stageIdx = stages.zipWithIndex.toMap
    events
      .withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (uid: Long, evs: Iterator[TEv], state: GroupState[Array[Long]]) =>
          val conv = state.getOption.getOrElse(Array.fill(stages.size)(-1L))
          val out  = scala.collection.mutable.ArrayBuffer.empty[FunnelConv]
          val byStage = evs.toArray
            .filter(e => stageIdx.contains(e.event_type))
            .groupBy(e => stageIdx(e.event_type))
          // the batch recurrence stage by stage (NOT a greedy scan in
          // time order: an equal-ts pair can place a stage-i event
          // "before" the stage-(i−1) conversion enabling it, and the
          // batch >= boundary converts that tie): t_i = min ts of a
          // stage-i event at/after t_{i−1}, folding this batch's
          // events into the persisted per-stage state
          for (i <- stages.indices if conv(i) < 0L && (i == 0 || conv(i - 1) >= 0L)) {
            val floor = if (i == 0) Long.MinValue else conv(i - 1)
            val cand  = byStage.getOrElse(i, Array.empty[TEv])
              .map(e => instantMicros(e.ts)).filter(_ >= floor)
            if (cand.nonEmpty) {
              conv(i) = cand.min
              out += FunnelConv(uid, i + 1, conv(i))
            }
          }
          state.update(conv)
          out.iterator
      }
  }

  /** Enforce [[emaStream]]'s bounded-key-universe contract. The
    * operator keeps one 16-byte record per key with NO timeout by
    * design (eviction would restart idle instruments' EMA), which is
    * a silent leak if pointed at an unbounded key stream. A
    * mapGroupsWithState function has no global view of the store, so
    * the sound enforcement point is the query's own state metrics:
    * this reads numRowsTotal from the last progress and fails the
    * driver loudly — stopping the query first — when it exceeds the
    * cap, mirroring EmaAggregate's buffer cap on the batch side.
    *
    * The cap comes from the explicit argument or the
    * `graft.emaStream.maxKeys` session conf; with neither set the
    * check is a no-op (contract documented but unenforced). Call it
    * after processAllAvailable() in harnesses; a long-running driver
    * should instead register [[enforceStateBound]] once — the
    * listener applies this same rule to every query's every
    * micro-batch with no per-call opt-in plumbing.
    */
  def checkStateBound(q: org.apache.spark.sql.streaming.StreamingQuery,
                      maxKeys: Option[Long] = None): Unit = {
    val cap = maxKeys.orElse(
      q.sparkSession.conf.getOption("graft.emaStream.maxKeys")
        .map(graft.operators.Guards.numericConf("graft.emaStream.maxKeys", _)(_.toLong)))
    cap.foreach { mk =>
      val rows = Option(q.lastProgress).map(_.stateOperators.map(_.numRowsTotal).sum).getOrElse(0L)
      if (rows > mk) {
        q.stop()
        throw new IllegalStateException(
          s"streaming state holds $rows keys, exceeding maxKeys=$mk: the key universe is not " +
            "bounded as emaStream's contract assumes — evict with timeouts (see sessionizeStream) " +
            "or raise graft.emaStream.maxKeys")
      }
    }
  }

  /** Push-based wiring for [[checkStateBound]]: a
    * StreamingQueryListener that applies the same rule to EVERY
    * progress event in the session, so a long-running driver gets
    * per-micro-batch enforcement without remembering to call the
    * pull-based check. Progress fires once per micro-batch, so a key
    * explosion is caught within one batch of happening.
    *
    * The listener bus swallows exceptions thrown by listeners, so
    * the enforcement ACTION is: stop the offending query (its
    * termination is the production alarm — a pipeline that should be
    * running is now provably not) and record the violation;
    * [[StateBoundEnforcer.raise]] / [[StateBoundEnforcer.violation]]
    * surface it to harness code as the loud exception. The cap comes
    * from the `graft.emaStream.maxKeys` session conf, same as the
    * pull-based check; with it unset the listener is inert.
    */
  final class StateBoundEnforcer(spark: SparkSession)
      extends org.apache.spark.sql.streaming.StreamingQueryListener {
    import org.apache.spark.sql.streaming.StreamingQueryListener._

    private val violations =
      new java.util.concurrent.ConcurrentHashMap[java.util.UUID, String]()
    // first violation in arrival order: raise() must be
    // deterministic, not whatever a hash map iterates first
    @volatile private var first: String = null

    override def onQueryStarted(event: QueryStartedEvent): Unit = ()
    override def onQueryTerminated(event: QueryTerminatedEvent): Unit = ()

    override def onQueryProgress(event: QueryProgressEvent): Unit = {
      // a malformed cap must not silently disable enforcement: the
      // listener bus swallows exceptions, so a bad toLong here would
      // no-op every batch while the user believes the bound is live.
      // Record it as a violation (raise()/violation() surface it).
      val cap = spark.conf.getOption("graft.emaStream.maxKeys").flatMap { raw =>
        try Some(java.lang.Long.parseLong(raw))
        catch {
          case _: NumberFormatException =>
            record(event.progress.id,
              s"graft.emaStream.maxKeys='$raw' is not a number — state-bound enforcement " +
                "is OFF until it is fixed")
            None
        }
      }
      cap.foreach { mk =>
        val p    = event.progress
        val rows = p.stateOperators.map(_.numRowsTotal).sum
        if (rows > mk) {
          record(p.id,
            s"streaming state of query ${p.id} holds $rows keys, exceeding maxKeys=$mk: the key " +
              "universe is not bounded as emaStream's contract assumes — evict with timeouts " +
              "(see sessionizeStream) or raise graft.emaStream.maxKeys")
          // stop the offender EVERY time the bound is blown — a
          // supervisor may restart the query (same persistent id)
          // with the same unbounded input, and a recorded prior
          // violation must not grant it immunity. We are on the
          // listener-bus thread, not the query's execution thread,
          // so stop() here cannot deadlock.
          Option(spark.streams.get(p.id)).filter(_.isActive).foreach(_.stop())
        }
      }
    }

    private def record(id: java.util.UUID, msg: String): Unit = {
      val isNew = violations.put(id, msg) == null
      if (first == null) first = msg
      if (isNew) System.err.println(s"[graft] $msg")
    }

    /** The recorded violation for `q`, if its state bound was blown. */
    def violation(q: org.apache.spark.sql.streaming.StreamingQuery): Option[String] =
      Option(violations.get(q.id))

    /** Throw the FIRST recorded violation, if any — the loud face
      * for harnesses that drive queries synchronously.
      */
    def raise(): Unit =
      if (first != null) throw new IllegalStateException(first)

    /** Acknowledge recorded violations (e.g. between harness
      * scenarios) so a later raise() reflects only new ones.
      */
    def clear(): Unit = { violations.clear(); first = null }

    /** Deregister from the session's listener bus. */
    def close(): Unit = spark.streams.removeListener(this)
  }

  /** Register a [[StateBoundEnforcer]] on the session and return it
    * (call `close()` to deregister).
    */
  def enforceStateBound(spark: SparkSession): StateBoundEnforcer = {
    val l = new StateBoundEnforcer(spark)
    spark.streams.addListener(l)
    l
  }

  def sessionizeStream(events: Dataset[SEv], gapMin: Int = 30, watermark: String = "10 minutes"): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    val gapUs = gapMin * 60L * 1000000L
    events
      .withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (uid: Long, evs: Iterator[SEv], state: GroupState[OpenSession]) =>
          def emit(st: OpenSession) = SessionOut(uid, st.startUs, st.lastUs, st.nEvents, st.totalCents / 100.0)
          if (state.hasTimedOut) {
            // watermark > last event + gap: nothing can extend this
            // session any more — emit it as final and DROP the state
            val st = state.get
            state.remove()
            Iterator.single(emit(st))
          } else {
            val sorted = evs.toArray.sortBy(e => (instantMicros(e.ts), e.value))
            val closed = scala.collection.mutable.ArrayBuffer.empty[SessionOut]
            var st     = state.getOption.orNull
            sorted.foreach { e =>
              val us = instantMicros(e.ts)
              st =
                if (st == null) OpenSession(us, us, 1L, cents(e.value))
                else if (us - st.lastUs > gapUs) {
                  closed += emit(st)
                  OpenSession(us, us, 1L, cents(e.value))
                } else
                  // max, not us: a cross-batch out-of-order event that
                  // is still inside the watermark arrives with
                  // us < lastUs — taking us unconditionally would move
                  // the session end BACKWARD, re-register the timeout
                  // too early, and let a following event split a
                  // session that sessionizeBatch keeps whole. The end
                  // and timeout must be monotone. (Such an event also
                  // can't retro-extend a session's start: in-watermark
                  // arrival earlier than start_us is folded into the
                  // open session — the documented approximation.)
                  OpenSession(st.startUs, math.max(st.lastUs, us), st.nEvents + 1,
                    st.totalCents + cents(e.value))
            }
            if (st != null) {
              state.update(st)
              // timeout timestamps are millisecond-grained: +1 ms so
              // truncation can't fire the timeout one event too early
              state.setTimeoutTimestamp(st.lastUs / 1000L + gapMin * 60000L + 1L)
            }
            closed.iterator
          }
      }
  }

  /** Streaming VWAP per key + event-time window: the real-time twin
    * of TimeSeries.vwap. The DECIMAL turnover and integral volume
    * sums are associative, so incremental micro-batch aggregation is
    * exactly the batch result once a window closes; watermark bounds
    * the state. Same one-shuffle shape as the batch bar.
    */
  /** Streaming OHLC candlestick bars — the incremental twin of
    * [[graft.operators.Relational.ohlcResample]] (the reference's
    * per-interval candlestick series as a live feed). min_by/max_by/
    * min/max/count are all associative-mergeable aggregates, so the
    * micro-batch accumulation is EXACTLY the batch bar once a window
    * finalizes; watermark bounds the open-window state (one state row
    * per (key, window), nothing grows with event volume). Same
    * one-shuffle shape as the batch groupBy.
    */
  def ohlcStream(events: DataFrame, width: String = "1 day", watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), width).as("w"), col("user_id"))
      .agg(
        min_by(col("value"), col("ts")).as("open"),
        max(col("value")).as("high"),
        min(col("value")).as("low"),
        max_by(col("value"), col("ts")).as("close"),
        count(lit(1)).as("n_obs"))
      .select(col("w.start").as("bar_start"), col("user_id"),
        col("open"), col("high"), col("low"), col("close"), col("n_obs"))

  def vwapStream(events: DataFrame, width: String = "1 day", watermark: String = "1 hour"): DataFrame = {
    val vol = get_json_object(col("props"), "$.k").cast("long")
    events
      .withWatermark("ts", watermark)
      .withColumn("vol", vol)
      .filter(col("vol").isNotNull && col("vol") > 0)
      .groupBy(window(col("ts"), width).as("w"), col("user_id"))
      .agg(
        sum(col("vol")).as("volume"),
        // DECIMAL(14,0) matches TimeSeries.vwap: wide enough that a
        // >=1e10 volume can't overflow the cast to NULL
        (sum(col("value").cast(Money) * col("vol").cast(org.apache.spark.sql.types.DecimalType(14, 0)))
          .cast("double") / sum(col("vol")).cast("double")).as("vwap"))
      .select(col("w.start").as("bar_start"), col("user_id"), col("volume"), col("vwap"))
  }

  /** Streaming exactly-once dedup on a business key: state bounded
    * by the watermark horizon (late duplicates beyond it age out of
    * the state store).
    */
  def dedupStream(events: DataFrame, watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("event_id")

  /** Streaming DAU — the incremental twin of
    * [[graft.operators.EventAnalytics.rollingActiveUsers]]'s DAU
    * column: per event-time day, the count of distinct active users.
    * A streaming distinct count can't re-scan history, so the shape
    * is the two-level dedup-then-count: dropDuplicatesWithinWatermark
    * on (user_id, day) collapses each user's repeat events to one
    * state row per (user, day) inside the watermark horizon, and the
    * downstream day-window count aggregates the survivors. Both
    * stateful operators are watermark-bounded: state is one row per
    * ACTIVE (user, day) pair plus one per open day window — never
    * the event history. Counts are exact for in-watermark data (spec:
    * equal to the batch DAU on in-order arrival).
    */
  def dauStream(events: DataFrame, watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .select(col("user_id"), col("ts"), date_trunc("day", col("ts")).as("day"))
      .dropDuplicatesWithinWatermark("user_id", "day")
      .groupBy(window(col("ts"), "1 day").as("w"))
      .agg(count(lit(1)).as("dau"))
      .select(col("w.start").as("day"), col("dau"))

  /** Batch twin of [[dauStream]] for the equivalence spec. */
  def dauBatch(events: DataFrame): DataFrame =
    events
      .select(col("user_id"), date_trunc("day", col("ts")).as("day"))
      .distinct()
      .groupBy(col("day"))
      .agg(count(lit(1)).as("dau"))

  case class KeyedEv(key: String, ts: java.time.Instant, value: Double)
  case class ProbedEv(key: String, ts_us: Long, value: Double, bucket: Int, probes: Array[Int])
  case class BloomDedupOut(key: String, ts_us: Long, value: Double)

  /** Streaming APPROXIMATE dedup with FIXED-size state: the
    * 100 TB-shaped alternative to [[dedupStream]]. Exact streaming
    * dedup keeps one state row per key forever (or per watermark
    * horizon) — a trillion-key corpus stream means terabytes of
    * state store. Here the state is `nBuckets` Bloom bitsets of
    * `mBits` bits each (e.g. 32 x 64 Ki bits = 256 KiB TOTAL,
    * regardless of stream cardinality, forever): once a key's probe
    * bits are set they stay set, so a duplicate is NEVER re-emitted
    * (Bloom has no false negatives on membership); the price is a
    * declared false-positive rate ~(1-e^(-k*n/m))^k per bucket of
    * dropping a never-seen key. That trade — zero duplicate leakage,
    * bounded memory, a few-in-a-million uniques lost — is the
    * standard curation contract for dedup-on-ingest at corpus scale.
    *
    * The probe positions use the exact hash family of the batch
    * [[graft.operators.Dedup.bloomBitset]] (multi-arg xxhash64 of
    * the key and probe index, mod mBits) and are computed as
    * codegen'd columns BEFORE the stateful operator, so the state
    * function does no hashing — it only tests/sets precomputed bit
    * positions. Rows shard across `nBuckets` state keys by key-hash,
    * so the state store parallelizes like any keyed operator; within
    * a micro-batch each group processes rows in (ts, key) order,
    * making the emitted set deterministic for a deterministic
    * source. No watermark is needed: state size never grows.
    */
  def bloomDedupStream(events: Dataset[KeyedEv], mBits: Int = 1 << 16, k: Int = 3,
                       nBuckets: Int = 32): Dataset[BloomDedupOut] = {
    require((mBits & (mBits - 1)) == 0 && mBits > 0, s"mBits must be a power of two, got $mBits")
    val words = mBits / 64
    val spark = events.sparkSession
    import spark.implicits._
    events
      .select(
        col("key"), unix_micros(col("ts")).as("ts_us"), col("value"),
        pmod(xxhash64(col("key")), lit(nBuckets.toLong)).cast("int").as("bucket"),
        // must mirror Dedup.bloomBitset's probe hash exactly
        transform(sequence(lit(0), lit(k - 1)), i =>
          pmod(xxhash64(col("key"), i), lit(mBits.toLong)).cast("int")).as("probes"))
      .as[ProbedEv]
      .groupByKey(_.bucket)
      .flatMapGroupsWithState[Array[Long], BloomDedupOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (_: Int, rows: Iterator[ProbedEv], state: GroupState[Array[Long]]) =>
          val bits = state.getOption.getOrElse(new Array[Long](words))
          val out = rows.toVector.sortBy(r => (r.ts_us, r.key)).flatMap { r =>
            val fresh = r.probes.exists(p => (bits(p >> 6) & (1L << (p & 63))) == 0L)
            if (fresh) {
              r.probes.foreach(p => bits(p >> 6) |= 1L << (p & 63))
              Some(BloomDedupOut(r.key, r.ts_us, r.value))
            } else None
          }
          state.update(bits)
          out.iterator
      }
  }

  /** Stream-to-static enrichment: the static dim is broadcast to
    * every micro-batch; no stream-side state at all.
    */
  def enrichStream(events: DataFrame, dim: DataFrame): DataFrame =
    events.join(broadcast(dim), "user_id")

  /** Streaming count-min frequency sketch — the fixed-state
    * frequency twin of [[bloomDedupStream]]'s fixed-state dedup: the
    * running state is the d x w counter matrix and NOTHING else
    * (d*w state rows forever, regardless of stream cardinality),
    * where exact streaming frequency tracking would hold one state
    * row per distinct value. Probe coordinates are codegen'd columns
    * computed BEFORE the stateful operator (the same md5 bucket rule
    * as the batch [[graft.operators.Stats.cmsSketch]]), so the
    * stateful layer is a plain streaming groupBy count over at most
    * d*w keys — counters shard across the state store and merge by
    * addition exactly like the batch sketch's shuffle combine. After
    * any prefix of the stream, the Complete-mode output is
    * bit-identical to the batch sketch of the same rows (spec'd),
    * which is what makes estimates from a 100 TB ingest stream
    * auditable against a batch replay.
    */
  def cmsStream(values: DataFrame, valueCol: String, d: Int = 3, w: Int = 16): DataFrame =
    values
      .select(explode(transform(sequence(lit(0), lit(d - 1)), r =>
        struct(r.cast("int").as("r"),
          graft.operators.Stats.cmsBucket(col(valueCol), r, w).as("b")))).as("p"))
      .groupBy(col("p.r").as("r"), col("p.b").as("b"))
      .agg(count(lit(1)).as("cnt"))

  /** Stream-stream interval join: purchases matched to the same
    * user's clicks in the preceding hour. Both sides are watermarked
    * so the join state expires; the time-bound condition is what
    * lets Spark drop state — an unbounded stream-stream join would
    * accumulate forever.
    */
  def streamStreamJoin(clicks: DataFrame, purchases: DataFrame): DataFrame = {
    val c = clicks.withWatermark("ts", "1 hour")
      .select(col("user_id"), col("ts").as("click_ts"), col("value").as("click_value"))
    val p = purchases.withWatermark("ts", "1 hour")
      .select(col("user_id"), col("ts").as("purchase_ts"), col("value").as("purchase_value"))
    p.join(c,
      p("user_id") === c("user_id") &&
        c("click_ts") <= p("purchase_ts") &&
        c("click_ts") >= p("purchase_ts") - expr("interval 1 hour"))
      .select(p("user_id"), col("purchase_ts"), col("purchase_value"), col("click_ts"), col("click_value"))
  }

  /** Drive a streaming DataFrame to completion against a bounded
    * source and return the materialized result (memory sink).
    */
  /** Streaming document-feed analytics: per-source windowed count +
    * mean sentiment over an unbounded article stream (DocSchema
    * shape, graft.sources.Feeds) — the real-time news dashboard
    * path. Sentiment is a narrow per-row fold; only the windowed
    * per-source agg keeps state, bounded by the watermark.
    */
  def docSentimentStream(docs: DataFrame, width: String = "6 hours", watermark: String = "1 day"): DataFrame =
    docs
      .withColumn("text", concat_ws(" ", col("title"), col("body")))
      .withColumn("polarity",
        graft.functions.TextFunctions.sentimentPolarity(
          col("text"),
          graft.operators.TextAnalysis.PosLexicon,
          graft.operators.TextAnalysis.NegLexicon))
      .withWatermark("published_ts", watermark)
      .groupBy(window(col("published_ts"), width).as("w"), col("source"))
      .agg(count(lit(1)).as("n_docs"), round(avg(col("polarity")), 6).as("avg_polarity"))
      .select(
        date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
        col("source"), col("n_docs"), col("avg_polarity"))

  /** Batch equivalent of [[docSentimentStream]] for spec checks. */
  def docSentimentBatch(docs: DataFrame, width: String = "6 hours"): DataFrame =
    docs
      .withColumn("text", concat_ws(" ", col("title"), col("body")))
      .withColumn("polarity",
        graft.functions.TextFunctions.sentimentPolarity(
          col("text"),
          graft.operators.TextAnalysis.PosLexicon,
          graft.operators.TextAnalysis.NegLexicon))
      .groupBy(window(col("published_ts"), width).as("w"), col("source"))
      .agg(count(lit(1)).as("n_docs"), round(avg(col("polarity")), 6).as("avg_polarity"))
      .select(
        date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
        col("source"), col("n_docs"), col("avg_polarity"))

  def runToMemory(spark: SparkSession, stream: DataFrame, name: String, mode: OutputMode): DataFrame = {
    val q = stream.writeStream.format("memory").queryName(name).outputMode(mode).start()
    q.processAllAvailable()
    q.stop()
    spark.table(name)
  }

  case class MgOut(shard: Int, item: String, est: Long, shard_n: Long)
  case class MgSt(counters: Map[String, Long], n: Long)

  /** Streaming heavy hitters with FIXED state: a sharded Misra–Gries
    * summary over an unbounded item stream — the top-k twin of
    * [[cmsStream]]'s frequency sketch (CMS answers "how often is X",
    * this answers "WHICH items are frequent" without tracking every
    * distinct item). Items hash-shard by value, so EACH item's full
    * count lands in exactly one shard's summary; per shard the state
    * is ≤ k counters (decrement-all when full — the classical MG
    * step), giving the standard deficit bound
    * true(x) − est(x) ≤ n_shard/(k+1): any item with shard frequency
    * above that threshold CANNOT be evicted, so the union of shard
    * candidates contains every global heavy hitter. State is
    * nShards·k rows however long the stream runs — never the
    * distinct-item universe. Emits each shard's summary per batch
    * (update semantics); the merge is one tiny batch aggregate over
    * ≤ nShards·k rows.
    */
  def heavyHittersStream(events: Dataset[TEv], k: Int = 8,
                         nShards: Int = 16): Dataset[MgOut] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(e => math.floorMod(e.event_type.hashCode, nShards))
      .flatMapGroupsWithState(OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (shard: Int, evs: Iterator[TEv], state: GroupState[MgSt]) =>
          var st = state.getOption.getOrElse(MgSt(Map.empty, 0L))
          evs.foreach { e =>
            val item = e.event_type
            val c    = st.counters
            val next =
              if (c.contains(item)) c.updated(item, c(item) + 1)
              else if (c.size < k) c.updated(item, 1L)
              else {
                // decrement-all; drop zeroed counters (the MG step)
                c.view.mapValues(_ - 1).filter(_._2 > 0).toMap
              }
            st = MgSt(next, st.n + 1)
          }
          state.update(st)
          st.counters.iterator.map { case (item, est) => MgOut(shard, item, est, st.n) }
      }
  }

  case class AnomSt(lastUs: Long, n: Long, mean: Double, m2: Double)
  case class AnomOut(user_id: Long, ts_us: Long, value: Double, z: Double)

  /** Streaming anomaly flags via a PREQUENTIAL Welford z-score: each
    * arriving value is scored against the running mean/variance of
    * everything BEFORE it, then folded in — so an outlier cannot mask
    * itself by inflating the variance it is judged against, and the
    * whole detector is one O(1) state record per key (lastUs, n,
    * mean, M2 — Welford's numerically stable form; a naive Σx² sum
    * cancels catastrophically once mean² ≫ variance). Emits only the
    * flagged rows (|z| > threshold after a warmup of `minN` values).
    * In-batch events sort on (ts, value) and cross-batch late data
    * behind the fold point drops — the [[emaStream]] contract — so
    * the flag set on in-order arrival is deterministic and equal to
    * a per-key sequential fold (spec-asserted against a local
    * reimplementation). Bounded-key-universe contract as
    * [[emaStream]]; [[enforceStateBound]] applies here too.
    */
  def anomalyStream(events: Dataset[SEv], threshold: Double = 4.0, minN: Int = 10,
                    watermark: String = "10 minutes"): Dataset[AnomOut] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (uid: Long, evs: Iterator[SEv], state: GroupState[AnomSt]) =>
          val sorted = evs.toArray.sortBy(e => (instantMicros(e.ts), e.value))
          var st  = state.getOption.getOrElse(AnomSt(Long.MinValue, 0L, 0.0, 0.0))
          val out = scala.collection.mutable.ArrayBuffer.empty[AnomOut]
          sorted.foreach { e =>
            val us = instantMicros(e.ts)
            if (us > st.lastUs) {
              if (st.n >= minN) {
                val std = math.sqrt(st.m2 / (st.n - 1))
                if (std > 0) {
                  val z = (e.value - st.mean) / std
                  if (math.abs(z) > threshold) out += AnomOut(uid, us, e.value, z)
                }
              }
              val n1    = st.n + 1
              val delta = e.value - st.mean
              val mean1 = st.mean + delta / n1
              st = AnomSt(us, n1, mean1, st.m2 + delta * (e.value - mean1))
            } // at/behind the fold point: dropped by contract
          }
          state.update(st)
          out.iterator
      }
  }
}
