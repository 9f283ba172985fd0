package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Materialize._

/** Product/event analytics over the events stream — the batch side
  * of the real-time dashboard family (reference analog: the
  * Streamlit activity panels; streaming twins live in
  * graft.streaming.Streams). Cohort retention and ordered funnels
  * are the two classic event-table rollups every analytics engine
  * ships.
  *
  * Scale design: both operators key every aggregate by user_id
  * first, so one hash partitioning serves the per-user stage;
  * nothing here is ever quadratic — retention is two aggregates +
  * one same-key join, the funnel is one conditional-aggregate pass
  * per stage over an already user-keyed frame.
  */
object EventAnalytics {

  /** Cohort retention matrix: users bucketed by first-seen day (the
    * cohort), then per (cohort, day-offset) the count of distinct
    * cohort members active at that offset, with the retention rate
    * against the cohort's size. Two user-keyed aggregates (first
    * seen, active days) + one join on user_id (co-partitioned — no
    * extra shuffle stage beyond the two aggregates' own) + the
    * final (cohort, offset) rollup; the cohort-size join is a
    * cohort-keyed dim small enough to broadcast at any corpus size
    * (one row per calendar day). Counts are exact longs; the rate
    * is one division per output row.
    */
  def cohortRetention(events: DataFrame, unit: String = "day"): DataFrame = {
    val firstSeen = events
      .groupBy(col("user_id"))
      .agg(min(date_trunc(unit, col("ts"))).as("cohort"))
    val active = events
      .select(col("user_id"), date_trunc(unit, col("ts")).as("d"))
      .distinct()
    val joined = active.join(firstSeen, "user_id")
      .select(col("cohort"), datediff(col("d"), col("cohort")).cast("long").as("day_offset"),
        col("user_id"))
    val cells = joined
      .groupBy(col("cohort"), col("day_offset"))
      .agg(countDistinct(col("user_id")).as("n_users"))
    val sizes = broadcast(firstSeen
      .groupBy(col("cohort")).agg(countDistinct(col("user_id")).as("cohort_size")))
    cells.join(sizes, "cohort")
      .select(col("cohort"), col("day_offset"), col("n_users"), col("cohort_size"),
        round(col("n_users").cast("double") / col("cohort_size").cast("double"), 6)
          .as("retention"))
  }

  /** Ordered conversion funnel: for a stage sequence (e.g. view ->
    * click -> purchase), a user converts stage i only with an event
    * of that type AT OR AFTER their stage-(i-1) conversion time —
    * the standard ordered-funnel semantics, not mere presence.
    * Implemented as one conditional min-aggregate per stage over
    * the user-keyed frame, each stage's threshold joined back on
    * user_id (co-partitioned). Emits one row per stage: users
    * reaching it, conversion vs previous stage and vs stage 1 —
    * counts exact, rates one division each.
    */
  def funnel(events: DataFrame, stages: Seq[String] = Seq("view", "click", "purchase")): DataFrame = {
    require(stages.nonEmpty, "funnel needs at least one stage")
    // per-user conversion time per stage, built stage by stage
    var conv = events
      .filter(col("event_type") === stages.head)
      .groupBy(col("user_id"))
      .agg(min(col("ts")).as("t0"))
    stages.zipWithIndex.tail.foreach { case (s, i) =>
      val prev = s"t${i - 1}"
      val cur  = s"t$i"
      val next = events.filter(col("event_type") === s)
        .select(col("user_id"), col("ts"))
        .join(conv.select(col("user_id"), col(prev)), "user_id")
        .filter(col("ts") >= col(prev))
        .groupBy(col("user_id"))
        .agg(min(col("ts")).as(cur))
      conv = conv.join(next, Seq("user_id"), "left")
    }
    val aggs   = stages.indices.map(i => count(col(s"t$i")).as(s"n$i"))
    val counts = conv.agg(aggs.head, aggs.tail: _*)
    // ONE job: a union of per-stage selects over `counts` would
    // recompute the whole conv lineage once per stage (no CSE
    // across union branches) — the aggregate is a single row, so
    // collect it and emit the k-row funnel as literals (the
    // ivfTrain tiny-result pattern). Rounding mirrors Spark's
    // round(): BigDecimal HALF_UP at 6 dp.
    val row = Materialize.named("head EventAnalytics.funnel.counts")(counts.head())
    val ns  = stages.indices.map(i => row.getLong(i))
    def rate(num: Long, den: Long): java.lang.Double =
      if (den == 0) null
      else BigDecimal(num.toDouble / den).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val spark = events.sparkSession
    import scala.jdk.CollectionConverters._
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("stage", org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("event_type", org.apache.spark.sql.types.StringType, nullable = false),
      org.apache.spark.sql.types.StructField("n_users", org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("step_rate", org.apache.spark.sql.types.DoubleType, nullable = true),
      org.apache.spark.sql.types.StructField("overall_rate", org.apache.spark.sql.types.DoubleType, nullable = true)))
    val rows = stages.indices.map { i =>
      org.apache.spark.sql.Row(i.toLong + 1, stages(i), ns(i),
        rate(ns(i), if (i == 0) ns(0) else ns(i - 1)),
        rate(ns(i), ns(0)))
    }
    spark.createDataFrame(rows.asJava, schema)
  }

  /** Per-user session rollup: session count, total/max events per
    * session, and total in-session dwell time. Sessions are the
    * gap-timeout sessions of [[graft.streaming.Streams.sessionizeBatch]]
    * (same definition, same single per-user sort), re-aggregated to
    * one row per user — every number an exact long (durations in
    * epoch micros), so the result is engine- and partition-count-
    * independent with no rounding anywhere. Both aggregates and the
    * session window share the user_id hash partitioning: one
    * shuffle total.
    */
  def sessionStats(events: DataFrame, gapMin: Int = 30): DataFrame =
    graft.streaming.Streams.sessionizeBatch(events, gapMin)
      .groupBy(col("user_id"))
      .agg(
        count(lit(1)).as("n_sessions"),
        sum(col("n_events")).as("total_events"),
        max(col("n_events")).as("max_session_events"),
        sum(col("end_us") - col("start_us")).as("total_session_us"))

  /** Top event-type transitions (first-order Markov edges): for each
    * user's time-ordered event stream, count (previous type -> next
    * type) adjacencies globally and keep the top-k edges. The lag
    * window and the transition aggregate are exact; ties in `ts`
    * order on event_id so the adjacency relation is deterministic on
    * any engine. One per-user sort (the window), one (prev, next)
    * aggregate — map-side partials — then a k-row heap merge
    * (orderBy+limit -> TakeOrderedAndProject), never a global sort
    * of the edge set.
    */
  def topTransitions(events: DataFrame, k: Int = 20): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    events
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("prev_type", lag(col("event_type"), 1).over(w))
      .filter(col("prev_type").isNotNull)
      .groupBy(col("prev_type"), col("event_type").as("next_type"))
      .agg(count(lit(1)).as("n_transitions"))
      .orderBy(col("n_transitions").desc, col("prev_type").asc, col("next_type").asc)
      .limit(k)
  }

  /** Time-to-conversion: for every user with a `fromType` event, the
    * delay from their FIRST `fromType` to their first `toType` AT OR
    * AFTER it (the ordered-funnel boundary semantics of [[funnel]],
    * >= tie included). Emits one row per converting user with exact
    * epoch-micro timestamps and delta — distribution summaries
    * compose downstream (percentiles, histogram) without this
    * operator choosing one. Both aggregates and the join key on
    * user_id: co-partitioned, one hash partitioning serves all
    * stages.
    */
  def timeToConversion(events: DataFrame,
                       fromType: String = "view", toType: String = "purchase"): DataFrame = {
    val firstFrom = events.filter(col("event_type") === fromType)
      .groupBy(col("user_id")).agg(min(col("ts")).as("t_from"))
    val firstTo = events.filter(col("event_type") === toType)
      .select(col("user_id"), col("ts"))
      .join(firstFrom, "user_id")
      .filter(col("ts") >= col("t_from"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("t_to"))
    firstFrom.join(firstTo, "user_id")
      .select(col("user_id"),
        unix_micros(col("t_from")).as("from_us"),
        unix_micros(col("t_to")).as("to_us"),
        (unix_micros(col("t_to")) - unix_micros(col("t_from"))).as("delta_us"))
  }

  /** Rolling active users: per calendar day, DAU (distinct users
    * active that day), WAU (distinct users active in the trailing
    * `windowDays`-day window), and the DAU/WAU stickiness ratio.
    * A sliding DISTINCT count can't run as a window aggregate
    * (distinct doesn't decompose over frames), so the shape is: the
    * events reduce once to the distinct (user, day) frame — the only
    * corpus-sized stage — then that frame joins a BROADCAST day grid
    * on the trailing-window range (the grid is one row per calendar
    * day: bounded by the date span, never by data volume, so the
    * "range join" is a broadcast fan-out of at most `windowDays`
    * rows per user-day) and a two-level distinct aggregate counts
    * each grid day's window. Counts exact longs; stickiness is an
    * unrounded ratio of exact longs (the vwap quotient rule).
    */
  def rollingActiveUsers(events: DataFrame, windowDays: Int = 7): DataFrame = {
    require(windowDays >= 1, s"windowDays must be positive: $windowDays")
    val userDay = events
      .select(col("user_id"), date_trunc("day", col("ts")).as("d"))
      .distinct()
    val days = userDay.select(col("d").as("grid_day")).distinct()
    val dau  = userDay.groupBy(col("d").as("grid_day"))
      .agg(countDistinct(col("user_id")).as("dau"))
    val wau = userDay
      .join(broadcast(days),
        datediff(col("grid_day"), col("d")).between(0, windowDays - 1))
      .groupBy(col("grid_day"))
      .agg(countDistinct(col("user_id")).as("wau"))
    dau.join(wau, "grid_day")
      .select(col("grid_day"), col("dau"), col("wau"),
        (col("dau").cast("double") / col("wau").cast("double")).as("stickiness"))
  }

  /** Per-user behavioral entropy: the Shannon entropy (bits) of each
    * user's event-type mix — 0 for single-action users, log₂(k) for
    * a uniform k-type mix; the standard behavioral-diversity segment
    * feature. Counts reduce exactly per (user, type); the entropy
    * term sum folds over at most |event types| doubles per user →
    * 6dp (bounded-group float recipe). Two aggregates on one
    * user-keyed partitioning, nothing corpus-wide.
    */
  def behaviorEntropy(events: DataFrame): DataFrame = {
    val wU = org.apache.spark.sql.expressions.Window.partitionBy("user_id")
    val counts = events.groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("c"))
      .withColumn("tot", sum(col("c")).over(wU))
    val p = col("c").cast("double") / col("tot").cast("double")
    counts
      .groupBy(col("user_id"))
      .agg(
        sum(col("c")).as("n_events"),
        count(lit(1)).as("n_types"),
        round(-sum(p * log2(p)), 6).as("entropy_bits"))
  }

  /** New-vs-returning split per day: of the users active each day,
    * how many were first seen THAT day (new) vs earlier (returning),
    * plus the returning share. The first-seen frame is a user-keyed
    * min aggregate; it joins the distinct user-day frame back on
    * user_id — co-partitioned with the aggregate's own hash
    * partitioning, so the whole operator is two shuffles of the
    * REDUCED frames (never the raw events twice). Exact longs; the
    * share divides once per output row, unrounded (exact-long
    * quotient rule).
    */
  def newVsReturning(events: DataFrame): DataFrame = {
    val userDay = events
      .select(col("user_id"), date_trunc("day", col("ts")).as("d"))
      .distinct()
    val firstSeen = userDay.groupBy(col("user_id")).agg(min(col("d")).as("first_d"))
    userDay.join(firstSeen, "user_id")
      .groupBy(col("d"))
      .agg(
        sum(when(col("d") === col("first_d"), 1L).otherwise(0L)).as("new_users"),
        sum(when(col("d") > col("first_d"), 1L).otherwise(0L)).as("returning_users"))
      .select(col("d"), col("new_users"), col("returning_users"),
        (col("returning_users").cast("double") /
          (col("new_users") + col("returning_users")).cast("double")).as("returning_share"))
  }

  /** Pareto concentration of activity: users ranked by event count,
    * with each user's cumulative share of all events and a power-user
    * flag — inside the top half of activity (is the 80/20 rule
    * holding, or is one bot 60% of the feed?). The corpus-sized frame
    * reduces to ONE ROW PER USER before anything global happens; the
    * global cumsum over that reduced frame is [[graft.operators.Stats.ksTest]]'s
    * distributed prefix sum — range-partition on the rank order,
    * local cumsums, broadcast per-partition offsets — never a
    * single-partition window over the user population (billions of
    * users at the 100 TB tier). Counts and cumsums are exact longs;
    * the share is one division; the (n_events desc, user_id asc)
    * order is total, so rank and cumulative share are deterministic.
    */
  def powerUsers(events: DataFrame, nBuckets: Int = 32): DataFrame = {
    val wLocal = org.apache.spark.sql.expressions.Window
      .partitionBy("pid").orderBy(col("n_events").desc, col("user_id").asc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val wOff = org.apache.spark.sql.expressions.Window
      .orderBy("pid") // nBuckets rows; pid frozen by EventAnalytics.powerUsers.counts
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val counts = events.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .repartitionByRange(nBuckets, col("n_events").desc, col("user_id").asc)
      .withColumn("pid", spark_partition_id())
      .materialize("EventAnalytics.powerUsers.counts") // totals + local cumsums both read it; pid frozen
    val offsets = counts.groupBy(col("pid"))
      .agg(sum(col("n_events")).as("t"), count(lit(1)).as("c"))
      // nBuckets rows: the single-partition window is over per-bucket
      // totals, never the user population
      .select(col("pid").as("opid"),
        coalesce(sum(col("t")).over(wOff), lit(0L)).as("off_events"),
        coalesce(sum(col("c")).over(wOff), lit(0L)).as("off_rank"))
    val total = counts.agg(sum(col("n_events")).as("total_events"))
    counts
      .withColumn("l_events", sum(col("n_events")).over(wLocal))
      .withColumn("l_rank", count(lit(1)).over(wLocal))
      .join(broadcast(offsets), col("pid") === col("opid"))
      .crossJoin(broadcast(total))
      .select(
        col("user_id"), col("n_events"),
        (col("off_rank") + col("l_rank")).as("rank"),
        (col("off_events") + col("l_events")).as("cum_events"),
        round((col("off_events") + col("l_events")).cast("double") /
          col("total_events").cast("double"), 6).as("cum_share"),
        // the users that TOGETHER produce the first half of all
        // events: everyone whose cumsum starts before the midpoint
        ((col("off_events") + col("l_events") - col("n_events")) * 2 < col("total_events"))
          .cast("int").as("is_power"))
  }

  /** User survival curve: for each observed lifespan length d (days
    * between first and last activity), how many users lived AT LEAST
    * that long and the survival fraction — the Kaplan-Meier-flavoured
    * complement of [[cohortRetention]] (lifespan view, not
    * calendar view). The corpus reduces to one lifespan per user,
    * then to one histogram row per lifespan length — a CALENDAR-
    * BOUNDED grid (≤ corpus span in days), so the reverse cumsum's
    * single-partition window runs over that bounded grid, never over
    * users; the user total broadcasts as a one-row frame. Exact
    * longs, one division per output row.
    */
  def survivalCurve(events: DataFrame): DataFrame = {
    val life = events.groupBy(col("user_id"))
      .agg(datediff(date_trunc("day", max(col("ts"))),
        date_trunc("day", min(col("ts")))).cast("long").as("lifespan"))
    val hist  = life.groupBy(col("lifespan")).agg(count(lit(1)).as("n"))
    val total = life.agg(count(lit(1)).as("n_total"))
    val wRev = org.apache.spark.sql.expressions.Window
      .orderBy(col("lifespan").desc) // one row per distinct lifespan in days
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    hist
      .withColumn("n_alive", sum(col("n")).over(wRev))
      .crossJoin(broadcast(total))
      .select(col("lifespan").as("day_offset"), col("n").as("n_exact"), col("n_alive"),
        round(col("n_alive").cast("double") / col("n_total").cast("double"), 6)
          .as("survival_rate"))
  }

  /** Per-user inter-event gap profile: count, median, p90, and max
    * gap between consecutive events — the cadence fingerprint that
    * separates bots (metronome gaps), bursts, and organic use, and
    * the empirical basis for choosing a sessionization timeout. Gaps
    * are EXACT epoch-microsecond differences (longs) off one
    * (user, ts, event_id) sort — the deterministic tiebreak every
    * lag operator here shares — and the quantiles are the exact
    * interpolating percentile over bounded per-user groups. One
    * window + one aggregate on the same user-keyed partitioning.
    */
  def interEventGaps(events: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    events
      .select(col("user_id"), col("ts"), col("event_id"))
      .withColumn("gap_us", unix_micros(col("ts")) - lag(unix_micros(col("ts")), 1).over(w))
      .filter(col("gap_us").isNotNull)
      .groupBy(col("user_id"))
      .agg(
        count(lit(1)).as("n_gaps"),
        percentile(col("gap_us"), lit(0.5)).as("median_gap_us"),
        percentile(col("gap_us"), lit(0.9)).as("p90_gap_us"),
        max(col("gap_us")).as("max_gap_us"))
  }

  /** Weekly activity heatmap: events per (ISO weekday, hour-of-day)
    * cell with each cell's share of the corpus — the when-are-users-
    * here panel. One aggregate onto a ≤ 7×24 BOUNDED grid (partial
    * map-side counts do almost all the work), total broadcast as a
    * one-row frame; exact longs, one division per cell. Weekday is
    * ISO (1 = Monday) so the axis is engine- and locale-portable.
    */
  def hourlyProfile(events: DataFrame): DataFrame = {
    val cells = events.groupBy(
      (weekday(col("ts")) + 1).as("isodow"), hour(col("ts")).as("hour"))
      .agg(count(lit(1)).as("n_events"))
    val total = cells.agg(sum(col("n_events")).as("n_total"))
    cells.crossJoin(broadcast(total))
      .select(col("isodow"), col("hour"), col("n_events"),
        round(col("n_events").cast("double") / col("n_total").cast("double"), 6).as("share"))
  }

  /** Gini coefficient of activity concentration — the one-number
    * complement of [[powerUsers]]' curve (0 = perfectly even, →1 =
    * one user is the feed). Uses the rank-sum identity
    * G = 2·Σᵢ i·xᵢ / (n·Σx) − (n+1)/n over ascending-sorted per-user
    * counts: the corpus reduces to one count per user, the ascending
    * rank and the Σi·xᵢ ride the same distributed prefix-sum shape
    * as [[powerUsers]] (range partition, local window, broadcast
    * offsets — never a single-partition window over users), and
    * every sum is an exact long, so G is one IEEE chain at 6dp.
    */
  def gini(events: DataFrame, nBuckets: Int = 32): DataFrame = {
    val wLocal = org.apache.spark.sql.expressions.Window
      .partitionBy("pid").orderBy(col("n_events").asc, col("user_id").asc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val wOff = org.apache.spark.sql.expressions.Window
      .orderBy("pid") // nBuckets rows; pid frozen by EventAnalytics.gini.counts
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val counts = events.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .repartitionByRange(nBuckets, col("n_events").asc, col("user_id").asc)
      .withColumn("pid", spark_partition_id())
      .materialize("EventAnalytics.gini.counts")
    val offsets = counts.groupBy(col("pid"))
      .agg(count(lit(1)).as("c"))
      .select(col("pid").as("opid"),
        coalesce(sum(col("c")).over(wOff), lit(0L)).as("off_rank"))
    counts
      .withColumn("l_rank", count(lit(1)).over(wLocal))
      .join(broadcast(offsets), col("pid") === col("opid"))
      .select(col("user_id"), col("n_events"),
        (col("off_rank") + col("l_rank")).as("rank"))
      .agg(
        count(lit(1)).as("n_users"),
        sum(col("n_events")).as("total_events"),
        sum(col("rank") * col("n_events")).as("rank_sum"))
      .select(col("n_users"), col("total_events"),
        round(
          lit(2.0) * col("rank_sum").cast("double") /
            (col("n_users").cast("double") * col("total_events").cast("double")) -
            (col("n_users") + 1).cast("double") / col("n_users").cast("double"),
          6).as("gini"))
  }

  /** Churn panel by signup cohort: per first-seen week, how many
    * users have gone quiet (no activity in the trailing `horizonDays`
    * before the corpus end) — the retention complement every growth
    * dashboard pairs with [[cohortRetention]]. First/last-seen reduce
    * in ONE user-keyed aggregate (no join between them needed); the
    * corpus end rides a broadcast one-row frame; cohort rollup is a
    * second aggregate over the already-reduced user frame. Exact day
    * arithmetic and integer counts; one division per cohort row.
    */

  def churn(events: DataFrame, horizonDays: Int = 7,
            cohortGrain: String = "week"): DataFrame = {
    val perUser = events.groupBy(col("user_id"))
      .agg(
        date_trunc(cohortGrain, min(col("ts"))).as("cohort_week"),
        date_trunc("day", max(col("ts"))).as("last_day"))
    val end = events.agg(date_trunc("day", max(col("ts"))).as("corpus_end"))
    perUser.crossJoin(broadcast(end))
      .withColumn("churned",
        (datediff(col("corpus_end"), col("last_day")) >= horizonDays).cast("long"))
      .groupBy(col("cohort_week"))
      .agg(
        count(lit(1)).as("n_users"),
        sum(col("churned")).as("n_churned"),
        round(sum(col("churned")).cast("double") / count(lit(1)).cast("double"), 6)
          .as("churn_rate"))
  }

  /** Burstiness per user: B = (σ−μ)/(σ+μ) over inter-event gaps —
    * the one-number cadence classifier (−1 metronome/bot, 0 Poisson
    * organic, →1 extreme bursts) on top of the q_inter_event gap
    * profile. Gaps are EXACT epoch-micro longs off one (user, ts,
    * event_id) sort; the moments (n, Σg, Σg²) accumulate as exact
    * decimals (gap² up to ~4e24 overflows int64 — DECIMAL(19,0) carries
    * it), and σ/μ/B are one shared IEEE chain at 6dp. Users with
    * one gap or zero variance surface the degenerate value exactly.
    */
  def burstiness(events: DataFrame): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(19, 0)
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val gaps = events
      .select(col("user_id"), col("ts"), col("event_id"))
      .withColumn("gap_us", unix_micros(col("ts")) - unix_micros(lag(col("ts"), 1).over(w)))
      .filter(col("gap_us").isNotNull)
      .withColumn("g", col("gap_us").cast(dec))
    val m = gaps.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_gaps"),
        sum(col("g")).as("sg"), sum(col("g") * col("g")).as("sgg"))
    val nd  = col("n_gaps").cast("double")
    val mu  = col("sg").cast("double") / nd
    val va  = col("sgg").cast("double") / nd - mu * mu
    val sd  = sqrt(when(va > 0, va).otherwise(lit(0.0)))
    // UNROUNDED: mean_gap is a terminating rational (exact-long sum
    // over n) that can land on a 6dp half boundary; every output is
    // a deterministic IEEE chain over exact decimals, so raw doubles
    // hash-match
    m.select(col("user_id"), col("n_gaps"),
      (mu / 1000000.0).as("mean_gap_s"),
      (sd / 1000000.0).as("sd_gap_s"),
      when(sd + mu =!= 0.0, (sd - mu) / (sd + mu)).as("burstiness"))
  }

  /** Stationary distribution of the event-type Markov chain — where
    * user journeys converge if behavior holds: π·P iterated from
    * uniform over the transition matrix [[topTransitions]] counts.
    * ALL-INTEGER fixed-point (the q_pagerank discipline): π lives in
    * units of `scale`, each edge contributes (π(prev)·c) div t(prev)
    * — exact integral ops whose sums are order-independent, so the
    * result is bit-identical at any partition count where a float
    * iteration would drift. The state space is the BOUNDED event-
    * type dim (every frame in the loop is ≤types rows / ≤types²
    * edges); the corpus pays exactly one lag-window scan for the
    * edge counts. Truncation mass (≤types per row per iteration)
    * and dangling-state mass are dropped by declared convention.
    */
  def markovStationary(events: DataFrame, iters: Int = 5,
                       scale: Long = 1000000000000L): DataFrame = {
    require(iters >= 1, s"iters must be positive: $iters")
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val seq = events.select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
      .withColumn("prev", lag(col("event_type"), 1).over(w))
    // ONE corpus aggregate yields BOTH the transition counts (prev
    // non-null groups) and the state universe (every event appears
    // as `next` exactly once, firsts included via their null-prev
    // group) — the old shape paid a second full corpus pass for
    // `distinct event_type` (guide §1.2 remove passes).
    val grouped = seq
      .groupBy(col("prev"), col("event_type").as("next"))
      .agg(count(lit(1)).as("c"))
    val edges = grouped.filter(col("prev").isNotNull)
    val rt = edges.groupBy(col("prev")).agg(sum(col("c")).as("t"))
    // BOUNDED state space (≤types rows / ≤types² edges) ⇒ the π·P
    // loop belongs in ONE task, not in 2·iters shuffle rounds: the
    // join-per-round shape measured ~25 driver-paced jobs per run
    // with half the wall in scheduling gaps. The matrix collapses to
    // a single row of arrays (states sorted — a deterministic index),
    // and the five rounds unroll as array expressions over that row.
    // Arithmetic is IDENTICAL: the same long π(prev)·c div t(prev)
    // terms, summed by long addition (order-free), dangling states 0
    // via the empty fold; π₀ = scale div n is the same floor division.
    val mat = grouped
      .agg(
        array_sort(collect_set(col("next"))).as("sts"),
        filter(
          collect_list(when(col("prev").isNotNull, struct(col("prev"), col("next"), col("c")))),
          e => e.isNotNull).as("es"))
      .crossJoin(broadcast(rt.agg(
        filter(collect_list(struct(col("prev"), col("t"))), e => e.isNotNull).as("ts"))))
      .withColumn("n", size(col("sts")))
      // resolve edge endpoints + row totals to 1-based state indices
      // ONCE; the per-round folds then index π directly
      .withColumn("esi", expr(
        """transform(es, e -> struct(
          |  CAST(array_position(sts, e.prev) AS INT) AS pi_,
          |  CAST(array_position(sts, e.next) AS INT) AS ni_,
          |  e.c AS c_,
          |  filter(ts, t -> t.prev = e.prev)[0].t AS t_))""".stripMargin))
      // ALL rounds inside ONE fold expression: π is a lambda variable,
      // bound once per round — an unrolled withColumn chain would let
      // CollapseProject inline the previous round's π expression into
      // every reference and blow the tree up exponentially (measured
      // 1.9 s → 5.0 s in planning/codegen before this form)
      .withColumn("pi", expr(
        s"""aggregate(sequence(1, $iters),
           |  array_repeat(CAST($scale AS BIGINT) div n, n),
           |  (pi, it) -> transform(sequence(1, n), j ->
           |    aggregate(filter(esi, e -> e.ni_ = j), 0L,
           |      (acc, e) -> acc + element_at(pi, e.pi_) * e.c_ div e.t_)))""".stripMargin))
    mat
      .select(explode(arrays_zip(col("sts"), col("pi"))).as("z"))
      .select(col("z.sts").as("event_type"), col("z.pi").as("pi_units"),
        (col("z.pi").cast("double") / scale).as("pi_share"))
  }

  /** Top user journeys: the most frequent opening event-type paths
    * (each user's first `depth` events in (ts, event_id) order,
    * joined as a path string), with user counts — the session-flow
    * complement of [[topTransitions]]'s single edges. Determinism at
    * any partition count: the per-user sequence is array_sort over
    * (ts_us, event_id, type) structs collected in ONE user-keyed
    * aggregate — never collect_list's arrival order — and the path
    * head is truncated AFTER the exact sort. Top-k is a TakeOrdered
    * heap with the path string as tiebreak, never a global sort of
    * the path universe.
    */
  def topPaths(events: DataFrame, depth: Int = 5, k: Int = 10): DataFrame = {
    require(depth >= 1 && k >= 1, s"bad params depth=$depth k=$k")
    val paths = events
      .select(col("user_id"),
        struct(unix_micros(col("ts")).as("t"), col("event_id").as("e"),
          col("event_type").as("ty")).as("s"))
      .groupBy(col("user_id"))
      .agg(array_sort(collect_list(col("s"))).as("seq"))
      .select(
        array_join(transform(slice(col("seq"), 1, depth), x => x("ty")), ">").as("path"))
    paths.groupBy(col("path")).agg(count(lit(1)).as("n_users"))
      .orderBy(col("n_users").desc, col("path").asc)
      .limit(k)
  }

  /** Feature-store assembly: the one-row-per-user feature vector a
    * churn/LTV model trains on — event volume, active days, distinct
    * behaviors, tenure, recency vs corpus end, exact-decimal mean
    * value. ONE aggregate pass over the fact (the distinct counts
    * expand map-side, the q_profile_table move, so it is a single
    * job — never scan-per-feature); the corpus end is a one-row
    * broadcast; recency/tenure are exact day arithmetic; mean value
    * is an exact DECIMAL(18,6) sum imaged once (welch recipe).
    */
  def userFeatures(events: DataFrame): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(18, 6)
    val per = events
      .select(col("user_id"), date_trunc("day", col("ts")).as("day"),
        col("event_type"), col("value").cast(dec).as("x"))
      .groupBy(col("user_id"))
      .agg(
        count(lit(1)).as("n_events"),
        countDistinct(col("day")).as("n_days_active"),
        countDistinct(col("event_type")).as("n_types"),
        min(col("day")).as("first_day"),
        max(col("day")).as("last_day"),
        sum(col("x")).as("sx"))
    val end = events.agg(max(date_trunc("day", col("ts"))).as("corpus_end"))
    per.crossJoin(org.apache.spark.sql.functions.broadcast(end))
      .select(col("user_id"), col("n_events"), col("n_days_active"), col("n_types"),
        datediff(col("last_day"), col("first_day")).cast("long").as("tenure_days"),
        datediff(col("corpus_end"), col("last_day")).cast("long").as("recency_days"),
        // UNROUNDED (the seasonal_decompose recipe): exact-decimal /
        // exact-count quotients can land on 6dp half boundaries where
        // the engines' round() disagree; the raw divisions are
        // bit-identical
        (col("sx").cast("double") / col("n_events")).as("mean_value"),
        (col("n_events").cast("double") / (datediff(col("last_day"), col("first_day")) + 1))
          .as("events_per_day"))
  }

  /** Entropy rate of the event-type Markov chain: H(next|prev) in
    * bits, against the marginal entropy H(next) — how predictable
    * the NEXT action is given the current one. info_gain =
    * H(next) − H(next|prev) is the bits the previous state buys; 0
    * means the chain is memoryless, and a near-zero H(next|prev)
    * with high H(next) is the bot signature (diverse actions,
    * deterministic order). Same shape as [[markovStationary]]'s
    * edge table: exact-long transition counts over the bounded
    * types² grid, term sums over ≤types² rows at 6dp, ln/ln2 with
    * the exact-double literal convention. One row out.
    */
  def entropyRate(events: DataFrame): DataFrame = {
    val ln2 = 0.6931471805599453
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val seq = events.select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
      .withColumn("prev", lag(col("event_type"), 1).over(w))
    val edges = seq.filter(col("prev").isNotNull)
      .groupBy(col("prev"), col("event_type").as("next")).agg(count(lit(1)).as("c"))
      .materialize("EventAnalytics.entropyRate.edges")
    val rt  = edges.groupBy(col("prev")).agg(sum(col("c")).as("t"))
    val tot = edges.agg(sum(col("c")).as("nn"), count_distinct(col("next")).as("n_states"))
    val cd = col("c").cast("double"); val td = col("t").cast("double")
    val nd = col("nn").cast("double")
    val hCond = edges.join(broadcast(rt), "prev").crossJoin(broadcast(tot))
      .select(col("nn"), col("n_states"),
        (-(cd / nd) * (log(cd / td) / lit(ln2))).as("tc"))
      .groupBy(col("nn"), col("n_states"))
      .agg(round(sum(col("tc")), 6).as("h_cond_bits"))
    val marg = edges.groupBy(col("next")).agg(sum(col("c")).as("m"))
    val md = col("m").cast("double")
    val hNext = marg.crossJoin(broadcast(tot.select(col("nn").as("nn2"))))
      .select((-(md / col("nn2").cast("double")) *
        (log(md / col("nn2").cast("double")) / lit(ln2))).as("tm"))
      .agg(round(sum(col("tm")), 6).as("h_next_bits"))
    hCond.crossJoin(broadcast(hNext))
      .select(col("nn").as("n_transitions"), col("n_states"),
        col("h_cond_bits"), col("h_next_bits"),
        round(col("h_next_bits") - col("h_cond_bits"), 6).as("info_gain_bits"))
  }

  /** DAU/MAU stickiness per day: daily actives over trailing-28-day
    * actives — the engagement ratio product dashboards live on
    * (≈1 = users return daily, ≈1/28 = once-a-month drive-bys).
    * Sliding DISTINCT cannot decompose over window frames, so the
    * q_dau_wau shape applies: the corpus reduces to the distinct
    * (user, day) frame ONCE, the trailing window is a join against
    * the BROADCAST day grid (bounded by the date span, never data
    * volume), and each grid day re-distincts its ≤window·actives
    * slice. Exact longs, one IEEE ratio, UNROUNDED.
    */
  def stickiness(events: DataFrame, window: Int = 28): DataFrame = {
    require(window >= 1, s"window must be positive: $window")
    val ud   = events.select(col("user_id"), date_trunc("day", col("ts")).as("day")).distinct()
    val grid = broadcast(ud.select(col("day").as("gday")).distinct())
    val mau = ud.join(grid,
        datediff(col("gday"), col("day")) >= 0 && datediff(col("gday"), col("day")) < window)
      .groupBy(col("gday"))
      .agg(countDistinct(col("user_id")).cast("long").as("mau"))
    val dau = ud.groupBy(col("day")).agg(countDistinct(col("user_id")).cast("long").as("dau"))
    dau.join(mau, col("day") === col("gday"))
      .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
        col("dau"), col("mau"),
        (col("dau").cast("double") / col("mau").cast("double")).as("stickiness"))
  }

  /** Daily volume anomaly flags per event type: each day's event
    * count z-scored against that type's own daily-count
    * distribution — the pager alert behind every ingestion dashboard
    * (a collapsed feed or a bot flood shows up as \|z\| > 3 the same
    * day). Counts are exact longs so the per-type moments are exact
    * 128-bit decimal sums (grubbs/welch recipe, splitDouble for
    * >2^53 casts); z is one IEEE chain, UNROUNDED, and the flag
    * compares that bit-identical z. Two aggregates + one
    * co-partitioned join on event_type — scan-shaped at any scale.
    */
  def anomalyDays(events: DataFrame, zThresh: Double = 3.0): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val daily = events
      .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
      .agg(count(lit(1)).cast("long").as("n"))
    val stats = daily.groupBy(col("event_type"))
      .agg(count(lit(1)).cast("long").as("days"),
        sum(col("n").cast(dec)).as("s1"),
        sum(col("n").cast(dec) * col("n")).as("s2"))
    val nd   = col("days").cast("double")
    val d1   = Stats.splitDouble(col("s1"))
    val d2   = Stats.splitDouble(col("s2"))
    val mean = d1 / nd
    val vr   = (d2 - d1 * d1 / nd) / (nd - 1)
    val z    = (col("n").cast("double") - mean) / sqrt(vr)
    val ok   = col("days") >= 2 && vr > 0
    daily.join(stats, "event_type")
      .select(col("event_type"), date_format(col("day"), "yyyy-MM-dd").as("day"),
        col("n"),
        when(ok, z).as("z"),
        when(ok, abs(z) > zThresh).as("anomaly"))
  }

  /** Windowed conversion funnel (view → purchase within `horizonH`
    * hours of the FIRST view): the bounded-patience variant of
    * [[funnel]] — an unbounded funnel credits a purchase weeks
    * later, which says nothing about the flow being measured.
    * Exact integer micro-second arithmetic end to end: entered /
    * converted counts are longs, the rate one division, the mean
    * lag Σlag_us/n/6e7 minutes — both UNROUNDED single chains.
    * Same two co-partitioned user-keyed aggregates as
    * [[timeToConversion]]; the horizon predicate rides the join
    * filter, so late conversions never reach the aggregate.
    */
  def funnelWindowed(events: DataFrame, horizonH: Int = 72,
                     fromType: String = "view", toType: String = "purchase"): DataFrame = {
    require(horizonH >= 1, s"horizon must be positive: $horizonH")
    val horizonUs = horizonH * 3600L * 1000000L
    val firstFrom = events.filter(col("event_type") === fromType)
      .groupBy(col("user_id")).agg(min(unix_micros(col("ts"))).as("t_from"))
    val conv = events.filter(col("event_type") === toType)
      .select(col("user_id"), unix_micros(col("ts")).as("t_us"))
      .join(firstFrom, "user_id")
      .filter(col("t_us") >= col("t_from") && col("t_us") <= col("t_from") + horizonUs)
      .groupBy(col("user_id")).agg(min(col("t_us")).as("t_to"))
    val j = firstFrom.join(conv, Seq("user_id"), "left")
    j.agg(
      count(lit(1)).cast("long").as("n_entered"),
      count(col("t_to")).cast("long").as("n_converted"),
      (count(col("t_to")).cast("double") / count(lit(1)).cast("double")).as("conv_rate"),
      (Stats.splitDouble(sum((col("t_to") - col("t_from"))
          .cast(org.apache.spark.sql.types.DecimalType(38, 0)))) /
        count(col("t_to")).cast("double") / 60000000.0).as("mean_lag_min"))
  }

  /** Linear multi-touch attribution: every conversion (purchase)
    * splits ONE unit of credit equally across all its touches (view/
    * click by the same user inside the lookback window), so channel
    * totals sum exactly to the conversion count — the report
    * marketing mix models start from. INTEGER credit: each touch
    * gets 1e6 div k micro-units and the 1e6 mod k remainder goes to
    * the LAST touch ((ts, event_id) max — deterministic), so every
    * conversion distributes exactly 1e6 units, sums are order-free
    * longs, and the surfaced credit is one IEEE division.
    * Conversions with no touch in window credit a "(direct)" row in
    * full. Scale: one user-keyed equi-join with the lookback
    * predicate riding the join filter (per-user volume is bounded),
    * two aggregates; no windows over the join.
    */
  def attribution(events: DataFrame, lookbackH: Int = 168,
                  convType: String = "purchase",
                  touchTypes: Seq[String] = Seq("view", "click")): DataFrame = {
    require(lookbackH >= 1, s"lookback must be positive: $lookbackH")
    val lookUs = lookbackH * 3600L * 1000000L
    val conv = events.filter(col("event_type") === convType)
      .select(col("user_id"), col("event_id").as("conv_id"),
        unix_micros(col("ts")).as("conv_us"))
    val touch = events.filter(col("event_type").isin(touchTypes: _*))
      .select(col("user_id"), col("event_id").as("touch_id"),
        col("event_type").as("channel"), unix_micros(col("ts")).as("touch_us"))
    val j = conv.join(touch, Seq("user_id"))
      .filter(col("touch_us") <= col("conv_us") &&
        col("touch_us") >= col("conv_us") - lookUs)
    val perConv = j.groupBy(col("conv_id"))
      .agg(count(lit(1)).cast("long").as("k"),
        max(struct(col("touch_us"), col("touch_id"))).as("last_t"))
    val credited = j.join(perConv, "conv_id")
      .withColumn("credit_u",
        expr("1000000 div k") +
          when(col("touch_id") === col("last_t.touch_id"), expr("1000000 % k")).otherwise(lit(0L)))
    val byChannel = credited.groupBy(col("channel"))
      .agg(count(lit(1)).cast("long").as("n_touch_events"),
        countDistinct(col("conv_id")).cast("long").as("n_conversions"),
        sum(col("credit_u")).as("credit_micro"))
    val direct = conv.join(j.select(col("conv_id").as("cid")).distinct(),
        col("conv_id") === col("cid"), "left_anti")
      .agg(lit(0L).as("n_touch_events"),
        count(lit(1)).cast("long").as("n_conversions"),
        (count(lit(1)) * lit(1000000L)).as("credit_micro"))
      .select(lit("(direct)").as("channel"), col("n_touch_events"),
        col("n_conversions"), col("credit_micro"))
    byChannel.unionByName(direct)
      .withColumn("credit", col("credit_micro").cast("double") / 1000000.0)
  }

  /** Lorenz curve of activity concentration at decile grain: for
    * each user decile (by ascending event count), the cumulative
    * share of all events — the full curve behind [[gini]]'s one
    * number (the classic "bottom 50% of users produce X% of
    * events" panel). Ranks and cumulative sums ride the
    * [[powerUsers]] distributed prefix-sum shape (range partitions,
    * local windows, broadcast offsets — never a single-partition
    * window over the user population); the decile id is EXACT
    * integer ceil-division of the rank, and every output cell is
    * exact longs with one IEEE share division per decile row.
    */
  def lorenzCurve(events: DataFrame, nDeciles: Int = 10, nBuckets: Int = 32): DataFrame = {
    require(nDeciles >= 2, s"need at least 2 deciles: $nDeciles")
    val wLocal = Window.partitionBy("pid")
      .orderBy(col("n_events").asc, col("user_id").asc)
      .rowsBetween(Window.unboundedPreceding, 0)
    // global order over nBuckets offset rows; pid frozen by EventAnalytics.lorenzCurve.counts
    val wOff = Window.orderBy("pid").rowsBetween(Window.unboundedPreceding, -1)
    val counts = events.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .repartitionByRange(nBuckets, col("n_events").asc, col("user_id").asc)
      .withColumn("pid", spark_partition_id())
      .materialize("EventAnalytics.lorenzCurve.counts")
    val offsets = counts.groupBy(col("pid"))
      .agg(sum(col("n_events")).as("t"), count(lit(1)).as("c"))
      .select(col("pid").as("opid"),
        coalesce(sum(col("t")).over(wOff), lit(0L)).as("off_events"),
        coalesce(sum(col("c")).over(wOff), lit(0L)).as("off_rank"))
    val total = counts.agg(sum(col("n_events")).as("total_events"),
      count(lit(1)).as("n_users"))
    counts
      .withColumn("l_events", sum(col("n_events")).over(wLocal))
      .withColumn("l_rank", count(lit(1)).over(wLocal))
      .join(broadcast(offsets), col("pid") === col("opid"))
      .crossJoin(broadcast(total))
      .withColumn("rank", col("off_rank") + col("l_rank"))
      .withColumn("cum", col("off_events") + col("l_events"))
      .withColumn("decile", expr(s"(rank * $nDeciles + n_users - 1) div n_users"))
      .groupBy(col("decile"))
      .agg(count(lit(1)).as("n_users_in"),
        max(col("cum")).as("cum_events"),
        max(col("total_events")).as("total_events"))
      .select(col("decile"), col("n_users_in"), col("cum_events"),
        (col("cum_events").cast("double") / col("total_events").cast("double"))
          .as("cum_share"))
  }

  /** Activation-lag panel: time from each user's FIRST event to
    * their `nth` — the time-to-habit metric growth teams watch (how
    * long until a user is really using the product), with the
    * activation rate for users who never get there. Per-user
    * endpoints are two conditional mins over one rank window (exact
    * epoch micros); the corpus panel is ONE aggregate with exact
    * interpolating percentiles over those exact longs (the
    * ship_lag recipe) — one row out, nothing corpus-wide after the
    * user reduce.
    */
  def activationLag(events: DataFrame, nth: Int = 10): DataFrame = {
    require(nth >= 2, s"nth must be >= 2: $nth")
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val perUser = events
      .select(col("user_id"), col("ts"), col("event_id"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1 || col("rn") === nth)
      .groupBy(col("user_id"))
      .agg(min(when(col("rn") === 1, unix_micros(col("ts")))).as("t1"),
        min(when(col("rn") === nth, unix_micros(col("ts")))).as("tn"))
    val lag_us = col("tn") - col("t1")
    perUser.agg(
      count(lit(1)).as("n_users"),
      count(col("tn")).as("n_activated"),
      (count(col("tn")).cast("double") / count(lit(1)).cast("double"))
        .as("activation_rate"),
      (percentile(lag_us, lit(0.5)) / 1e6).as("p50_lag_s"),
      (percentile(lag_us, lit(0.9)) / 1e6).as("p90_lag_s"),
      (max(lag_us).cast("double") / 1e6).as("max_lag_s"))
  }

  /** Peak session concurrency per day: how many gap-timeout sessions
    * overlap at the busiest instant — the capacity-planning panel
    * ([[sessionStats]] counts sessions; this counts them AT ONCE).
    * Each session contributes +1 at its start and −1 just after its
    * end; equal-timestamp deltas collapse in one aggregate
    * (order-free), and the running concurrency is the ksTest
    * distributed prefix sum over the TIME axis (range partitions,
    * local cumsum, broadcast offsets — never one global window over
    * the change points). A synthetic delta-0 point at every midnight
    * in the span carries the prior day's closing concurrency into
    * each day's max — without it, a day whose busiest instant is a
    * session running over from the previous midnight under-reports,
    * and days with no session boundary at all are absent. With the
    * carry points, max over a day's points IS the day's true peak
    * (concurrency is constant between points); everything is integer
    * arithmetic end to end. n_points counts boundary points plus the
    * one midnight marker.
    */
  def peakConcurrency(events: DataFrame, gapMin: Int = 30, nBuckets: Int = 32): DataFrame = {
    val sess = graft.streaming.Streams.sessionizeBatch(events, gapMin)
    val bounds = broadcast(sess.agg(
      min(col("start_us")).as("t0"), max(col("end_us") + 1L).as("t1")))
    val midnights = bounds.select(
      explode(sequence(
        date_trunc("day", timestamp_micros(col("t0"))),
        date_trunc("day", timestamp_micros(col("t1"))),
        expr("interval 1 day"))).as("dts"))
      .select(unix_micros(col("dts")).as("t"), lit(0L).as("d"))
    val pts = sess.select(col("start_us").as("t"), lit(1L).as("d"))
      .unionByName(sess.select((col("end_us") + 1L).as("t"), lit(-1L).as("d")))
      .unionByName(midnights)
      .groupBy(col("t")).agg(sum(col("d")).as("d"))
      .repartitionByRange(nBuckets, col("t"))
      .withColumn("pid", spark_partition_id())
      .materialize("EventAnalytics.peakConcurrency.pts")
    val wLocal = Window.partitionBy("pid").orderBy("t")
      .rowsBetween(Window.unboundedPreceding, 0)
    // global order over nBuckets offset rows; pid frozen by EventAnalytics.peakConcurrency.pts
    val wOff = Window.orderBy("pid").rowsBetween(Window.unboundedPreceding, -1)
    val offsets = pts.groupBy(col("pid")).agg(sum(col("d")).as("td"))
      .select(col("pid").as("opid"),
        coalesce(sum(col("td")).over(wOff), lit(0L)).as("off"))
    pts
      .withColumn("l", sum(col("d")).over(wLocal))
      .join(broadcast(offsets), col("pid") === col("opid"))
      .withColumn("conc", col("off") + col("l"))
      .groupBy(date_format(date_trunc("day", timestamp_micros(col("t"))), "yyyy-MM-dd").as("day"))
      .agg(max(col("conc")).as("peak_concurrency"),
        count(lit(1)).as("n_points"))
  }

  /** Fano dispersion index per event type over HOURLY arrival counts
    * — the Poisson-ness gate under every rate-based alert: D =
    * s²/mean reads 1 for a Poisson feed, >1 for bursty arrivals
    * (q_burstiness scores users; this scores the FEED), with the
    * chi-square statistic (n−1)·D as the significance handle. Empty
    * hours COUNT AS ZERO — the grid is the corpus hour span
    * (one-row broadcast bounds, exploded sequence) crossed with the
    * bounded type dim, so the count frame is grid-sized, never
    * corpus-sized. With exact-long (n, Σc, Σc²), D collapses to
    * (n·Σc² − (Σc)²)/((n−1)·Σc) — ONE IEEE division of exact
    * integers, UNROUNDED, order-independent at any partition count.
    */
  def dispersionIndex(events: DataFrame): DataFrame = {
    val bounds = broadcast(events.agg(
      date_trunc("hour", min(col("ts"))).as("h0"),
      date_trunc("hour", max(col("ts"))).as("h1")))
    val grid = bounds.select(
      explode(sequence(col("h0"), col("h1"), expr("interval 1 hour"))).as("hour"))
    val types = events.select(col("event_type")).distinct()
    val counts = events
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hour"))
      .agg(count(lit(1)).as("c"))
    val g = types.crossJoin(grid)
      .join(counts, Seq("event_type", "hour"), "left")
      .withColumn("c", coalesce(col("c"), lit(0L)))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_hours"),
        sum(col("c")).as("n_events"),
        sum(col("c") * col("c")).as("s2"))
    val num = col("n_hours") * col("s2") - col("n_events") * col("n_events")
    g.select(col("event_type"), col("n_hours"), col("n_events"),
      when(col("n_hours") > 1 && col("n_events") > 0,
        num.cast("double") / ((col("n_hours") - 1) * col("n_events")).cast("double"))
        .as("fano"),
      when(col("n_hours") > 1 && col("n_events") > 0,
        num.cast("double") / col("n_events").cast("double")).as("chi2_stat"))
  }
}
