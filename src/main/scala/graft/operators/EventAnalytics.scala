package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType}

import graft.Tables
import graft.functions.ExactAgg

/** Product-analytics operators over the `events` stream table
  * (SURVEY.md §2.2 additions) — the funnel/retention queries every
  * event-analytics engine ships, expressed as keyed aggregations so
  * they scale as user-partitioned shuffles with map-side combine.
  */
object EventAnalytics {

  /** Microsecond epoch of the event timestamp — the same conversion
    * the sessionize query uses, so DuckDB's `epoch_us(CAST(ts AS
    * TIMESTAMP))` sees identical values. */
  private def us = unix_micros(col("ts").cast("timestamp"))

  /** E1 — ordered conversion funnel (view → click → purchase): one
    * summary row counting users who viewed, users whose first click
    * came strictly after their first view, and users whose first
    * purchase came strictly after that click.
    *
    * Shape: three aggregations and two joins, ALL keyed by `user_id` —
    * after the first hash shuffle every stage is co-partitioned, and
    * each aggregation partial-aggregates map-side. Per-user state is
    * O(1) (a min timestamp per stage); no event-list explosion at any
    * skew. The final counts reduce three one-column frames to one row.
    */
  def eventsFunnel(t: Tables): DataFrame = {
    val e = t.events.select(col("user_id"), col("event_type"), us.as("us"))
    val viewed = e.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("us")).as("v_us"))
    val clicked = e.filter(col("event_type") === "click")
      .join(viewed, "user_id")
      .filter(col("us") > col("v_us"))
      .groupBy(col("user_id")).agg(min(col("us")).as("c_us"))
    val purchased = e.filter(col("event_type") === "purchase")
      .join(clicked, "user_id")
      .filter(col("us") > col("c_us"))
      .groupBy(col("user_id")).agg(min(col("us")).as("p_us"))
    viewed.agg(count(lit(1)).as("n_view"))
      .crossJoin(clicked.agg(count(lit(1)).as("n_click")))
      .crossJoin(purchased.agg(count(lit(1)).as("n_purchase")))
  }

  /** `events_funnel_windowed` — the ordered funnel with CONVERSION
    * WINDOWS: a click counts only within 24 h of the first view, a
    * purchase only within 7 days of that click — the time-bound form
    * every product-analytics tool actually reports (an unbounded
    * funnel credits a purchase months after the view; attribution
    * windows are the industry default). Same keyed min-timestamp
    * shape as [[eventsFunnel]] with the window bound as an extra
    * integer predicate; step rates are §6 ratios of exact counts.
    */
  def eventsFunnelWindowed(t: Tables,
      clickWindowUs: Long = 24L * 3600 * 1000000,
      purchaseWindowUs: Long = 7L * 24 * 3600 * 1000000): DataFrame = {
    val e = t.events.select(col("user_id"), col("event_type"), us.as("us"))
    val viewed = e.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("us")).as("v_us"))
    val clicked = e.filter(col("event_type") === "click")
      .join(viewed, "user_id")
      .filter(col("us") > col("v_us") &&
        col("us") <= col("v_us") + lit(clickWindowUs))
      .groupBy(col("user_id")).agg(min(col("us")).as("c_us"))
    val purchased = e.filter(col("event_type") === "purchase")
      .join(clicked, "user_id")
      .filter(col("us") > col("c_us") &&
        col("us") <= col("c_us") + lit(purchaseWindowUs))
      .groupBy(col("user_id")).agg(min(col("us")).as("p_us"))
    viewed.agg(count(lit(1)).as("n_view"))
      .crossJoin(clicked.agg(count(lit(1)).as("n_click_24h")))
      .crossJoin(purchased.agg(count(lit(1)).as("n_purchase_7d")))
      .select(col("n_view"), col("n_click_24h"), col("n_purchase_7d"),
        round(col("n_click_24h").cast("double") /
          nullif(col("n_view").cast("double"), lit(0.0)) + lit(1e-9), 4)
          .as("click_rate"),
        round(col("n_purchase_7d").cast("double") /
          nullif(col("n_click_24h").cast("double"), lit(0.0)) + lit(1e-9), 4)
          .as("purchase_rate"))
  }

  /** E2 — retention cohorts: users are cohorted by the day of their
    * first event; each (cohort day, day offset) cell counts the
    * distinct users from that cohort active that many days later.
    *
    * Shape: one user-keyed aggregation for the cohort day, one
    * user-keyed join to tag events, then a (cohort, offset)-keyed
    * count-distinct. The join ships only (user_id, cohort_day); the
    * distinct-count shuffle carries (cohort, offset, user_id) —
    * bounded by active users, never raw events, thanks to the
    * partial-aggregating distinct.
    */
  def eventsRetention(t: Tables): DataFrame = {
    val days = t.events.select(col("user_id"), to_date(col("ts")).as("day"))
    val cohorts = days.groupBy(col("user_id")).agg(min(col("day")).as("cohort_day"))
    days.join(cohorts, "user_id")
      .groupBy(col("cohort_day"),
        datediff(col("day"), col("cohort_day")).cast("long").as("day_offset"))
      .agg(countDistinct(col("user_id")).as("n_users"))
      // ISO string: DATE round-trips differently through the two
      // engines' parquet/pandas paths (date vs datetime64)
      .select(date_format(col("cohort_day"), "yyyy-MM-dd").as("cohort_day"),
        col("day_offset"), col("n_users"))
  }

  /** E3 — volume anomaly detection: hourly event counts per type,
    * flagged where the count sits more than `zThreshold` population
    * standard deviations from that type's own hourly mean — the
    * monitoring query that catches ingestion gaps and bot spikes in an
    * event pipeline.
    *
    * Shape: one (type, hour)-keyed count (map-side partial agg —
    * the only shuffle that sees raw events), then mean/stddev as
    * windows PARTITIONED BY type over the hourly rollup, whose size
    * is #types × #hours (~10⁴ rows/type even over a decade) —
    * metadata-scale regardless of corpus size. Spark and DuckDB both
    * aggregate doubles left-to-right within a partition here, and the
    * rollup is small enough that the 4-dp round (+1e-9 off the
    * half-boundary) absorbs any accumulation-order drift.
    */
  def eventsAnomaly(t: Tables, zThreshold: Double = 2.0): DataFrame = {
    val counts = t.events
      .groupBy(date_trunc("hour", col("ts")).as("hour_ts"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
    anomalyScore(counts, zThreshold)
  }

  /** E8 — `events_seasonal_profile`: the seasonal baseline table a
    * production monitor persists — per (event type, hour-of-day), how
    * many hours contribute and the mean/stddev of hourly volume. Daily
    * traffic has a strong hour-of-day cycle, so scoring against THIS
    * profile (rather than [[eventsAnomaly]]'s flat per-type mean) is
    * what keeps nightly troughs from flagging as anomalies. Same
    * metadata-scale shape: one (type, hour) rollup shuffle over raw
    * events, then a #types × 24 partial agg.
    */
  def eventsSeasonalProfile(t: Tables): DataFrame =
    t.events
      .groupBy(date_trunc("hour", col("ts")).as("hour_ts"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .groupBy(col("event_type"), hour(col("hour_ts")).as("hour_of_day"))
      .agg(count(lit(1)).as("n_hours"),
        ExactAgg.exactMean(col("n_events"), 4).as("mean_events"),
        ExactAgg.exactStd(col("n_events"), 4).as("stddev_events"))

  /** E7 — `events_gap_report`: ingestion-completeness monitor — per
    * event type, how many hours of the corpus's own [min, max] hour
    * span carry at least one event vs how many are silent, plus the
    * longest silent run. The calendar-spine check that catches a dead
    * collector (the complement of [[eventsAnomaly]], which only sees
    * hours that HAVE data).
    *
    * Shape: one (type, hour) rollup shuffle over raw events; the spine
    * compare runs per type over the hourly rollup (lag window keyed by
    * type) — metadata-scale like the anomaly stats. The global span is
    * a one-row aggregate broadcast in.
    */
  def eventsGapReport(t: Tables): DataFrame = {
    val hours = t.events
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hour_ts"))
      .agg(count(lit(1)).as("n"))
    val span = t.events.agg(
      date_trunc("hour", min(col("ts"))).as("first_hour"),
      date_trunc("hour", max(col("ts"))).as("last_hour"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("hour_ts"))
    hours
      .withColumn("prev_hour", lag(col("hour_ts"), 1).over(w))
      .crossJoin(broadcast(span))
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("hours_present"),
        // span endpoints are broadcast one-row constants; max() is
        // just the aggregate wrapper Spark requires for them here
        (((unix_micros(max(col("last_hour")).cast("timestamp")) -
            unix_micros(max(col("first_hour")).cast("timestamp")))
          / lit(3600000000L)).cast("long")
          + 1 - count(lit(1))).as("hours_silent"),
        max(coalesce(
          ((unix_micros(col("hour_ts").cast("timestamp")) -
              unix_micros(col("prev_hour").cast("timestamp")))
            / lit(3600000000L)).cast("long") - 1,
          lit(0L))).as("longest_gap_hours"))
  }

  /** E6 — `events_attribution`: last-touch revenue attribution — each
    * purchase is credited to the user's most recent view/click at or
    * before it (none → unattributed), rolled up to purchases and value
    * per touch type. Runs through the NATIVE as-of join
    * ([[graft.plans.AsOfJoinOps]] — custom LogicalPlan/Strategy/Exec,
    * single user-keyed shuffle per side, streaming merge within a
    * partition, no range-explosion join), exercising the custom
    * operator on a second real workload beyond `q_asof_join_native`.
    * (user, ts) is globally unique in the ns-resolution stream, so the
    * "last touch ≤ purchase time" row is well-defined on any engine.
    */
  def eventsAttribution(t: Tables): DataFrame = {
    val e = t.events
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("p_ts"), col("value").as("p_value"))
    val touches = e.filter(col("event_type").isin("view", "click"))
      .select(col("user_id").as("t_user"), col("ts").as("t_ts"),
        col("event_type").as("touch_type"))
    graft.plans.AsOfJoinOps.asofJoin(purchases, touches,
        "user_id", "p_ts", "t_user", "t_ts")
      .groupBy(coalesce(col("touch_type"), lit("none")).as("touch_type"))
      .agg(count(lit(1)).as("n_purchases"),
        round(sum(col("p_value")), 2).as("attributed_value"))
  }

  /** E5 — `events_active_users`: DAU and trailing-7-day WAU per day —
    * the engagement rollup every event pipeline publishes. Exact
    * distinct counts, no sliding-window distinct (which Spark windows
    * can't express): the deduped (user, day) activity set contributes
    * each row to the 7 target days it covers via a bounded explode, so
    * WAU(d) is a plain count-distinct per target day. Fan-out is a
    * constant 7× of the ALREADY-DEDUPED per-day activity set (≪ raw
    * events), then two keyed partial-agg shuffles; trailing days with
    * no activity of their own still report WAU from the window, and
    * days beyond the corpus's last day are clipped so every reported
    * day is real.
    */
  def eventsActiveUsers(t: Tables): DataFrame = {
    // staging cache: DAU, the last-day scalar and the WAU explode all
    // consume the deduped activity set — uncached, each would re-scan
    // raw events and re-pay the distinct shuffle (a staging write on a
    // real cluster); eager count so the three consumers don't race the
    // lazy cache
    val activity = t.events
      .select(col("user_id"), date_trunc("day", col("ts")).as("day"))
      .distinct()
      .persist()
    activity.count()
    val dau = activity.groupBy(col("day"))
      .agg(count(lit(1)).as("dau"))
    val lastDay = activity.agg(max(col("day")).as("last_day"))
    val wau = activity
      .crossJoin(broadcast(lastDay))
      .select(col("user_id"),
        explode(sequence(col("day"),
          least(col("day") + expr("INTERVAL 6 DAYS"), col("last_day")),
          expr("INTERVAL 1 DAY"))).as("day"))
      .groupBy(col("day"))
      .agg(countDistinct(col("user_id")).as("wau"))
    wau.join(dau, Seq("day"), "left")
      .select(col("day"), coalesce(col("dau"), lit(0L)).as("dau"), col("wau"))
  }

  /** E4 — `events_transitions`: the first-order Markov transition
    * matrix of user behavior — for each (prev → next) event-type pair,
    * how often it occurs and the conditional probability of `next`
    * given `prev`. The path-analysis rollup behind "what do users do
    * after X" dashboards and session-model features.
    *
    * Shape: one user-keyed lag window over raw events (ordered by
    * (ts, event_type) so same-timestamp ties sequence identically on
    * any engine), then a (prev, next) partial-agg count; the
    * conditional share is a sum window over the #types² rollup —
    * metadata-scale. Raw events cross exactly one shuffle.
    */
  def eventsTransitions(t: Tables): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_type"))
    t.events
      .select(col("user_id"), col("ts"), col("event_type"))
      .withColumn("prev_type", lag(col("event_type"), 1).over(w))
      .filter(col("prev_type").isNotNull)
      .groupBy(col("prev_type"), col("event_type").as("next_type"))
      .agg(count(lit(1)).as("n_trans"))
      .withColumn("p_next",
        round(col("n_trans") / sum(col("n_trans"))
          .over(Window.partitionBy(col("prev_type"))) + lit(1e-9), 4))
  }

  /** `events_path_mining` — top-k behavioral 3-step paths: the
    * sequence-mining complement to [[eventsTransitions]]' single-step
    * matrix (a first-order chain can't see that view→click→purchase
    * and view→click→error share a prefix but diverge — the trigram
    * table can), ranked by occurrence with per-path user reach.
    *
    * Shape: ONE user-keyed window pass (ordered by (ts, event_id) —
    * event id unique, so the sequence is total-ordered and
    * engine-identical) produces both lookahead steps; the rollup's
    * key space is ≤ |types|³ — metadata-scale however many events
    * flow through — and the cut is TakeOrdered with a full
    * deterministic tiebreak, never a global sort. Raw events cross
    * exactly one shuffle, same as the transition matrix.
    */
  def eventsPathMining(t: Tables, topK: Int = 20): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    t.events
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("step2", lead(col("event_type"), 1).over(w))
      .withColumn("step3", lead(col("event_type"), 2).over(w))
      .filter(col("step3").isNotNull)
      .groupBy(col("event_type").as("step1"), col("step2"), col("step3"))
      .agg(count(lit(1)).as("n_paths"),
        countDistinct(col("user_id")).as("n_users"))
      .orderBy(desc("n_paths"), col("step1"), col("step2"), col("step3"))
      .limit(topK)
  }

  /** `events_markov_stationary` — the long-run state distribution of
    * the [[eventsTransitions]] chain by power iteration: π ← πP,
    * `nIters` times from uniform — "where does a user journey spend
    * its time" (the PageRank computation, on the event-type graph).
    * Completes the engine's iterative-algorithm family: label
    * propagation (CC), Lloyd (k-means), and now power iteration.
    *
    * Shape: states are EVENT TYPES — a bounded vocabulary — so the
    * transition matrix is metadata-scale and collects once (the same
    * bounded O(K²) driver budget as the k-means centroid collect); at
    * web-graph scale this loop becomes `dedupClusters`' edges×rank
    * keyed-join shape instead. Each iteration rounds to 6 dp exactly
    * as the chained-CTE DuckDB oracle replays it, so the two engines
    * hold identical vectors at every step (summation-order drift is
    * killed at each round). Dangling-state mass decays identically on
    * both sides by the same join semantics.
    */
  def eventsMarkovStationary(t: Tables, nIters: Int = 8): DataFrame = {
    val pRows = eventsTransitions(t)
      .select(col("prev_type"), col("next_type"), col("p_next"))
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getDouble(2)))
      .sortBy(r => (r._1, r._2))
    def rnd6(x: Double): Double =
      java.math.BigDecimal.valueOf(x + 1e-9)
        .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
    val states = pRows.map(_._1).distinct.sorted
    var pi: Map[String, Double] =
      states.map(_ -> 1.0 / states.length.toDouble).toMap
    for (_ <- 1 to nIters) {
      pi = pRows
        .collect { case (i, j, p) if pi.contains(i) => (j, pi(i) * p) }
        .groupBy(_._1)
        .map { case (j, xs) => j -> rnd6(xs.map(_._2).sum) }
    }
    val sess = t.spark
    import sess.implicits._
    pi.toSeq.sortBy(_._1).toDF("state", "stationary_p")
  }

  /** E203 — `events_stickiness`: the DAU/MAU stickiness board — per
    * day, daily actives over trailing-30-day actives, the
    * "how many of the monthly users come back today" habit metric
    * every growth review reads next to the DAU/WAU board
    * (`events_active_users` answers reach; this answers HABIT — a
    * product can grow MAU while stickiness collapses).
    *
    * Shape: the same deduped (user, day) activity set, each activity
    * day fanned forward over its ≤30-day visibility window (bounded
    * explode on the metadata-scale activity table — raw events are
    * touched once by the distinct), then one day-keyed distinct
    * count; stickiness is a §6 ratio of the two exact counts. At
    * 100 TB the fan-out is 30 × active (user, day) pairs — the
    * incremental swap is a per-day HLL/state union, noted. Days
    * beyond the corpus edge are clipped like the WAU board. */
  def eventsStickiness(t: Tables): DataFrame = {
    val activity = t.events
      .select(col("user_id"), date_trunc("day", col("ts")).as("day"))
      .distinct()
    val dau = activity.groupBy(col("day")).agg(count(lit(1)).as("dau"))
    val lastDay = activity.agg(max(col("day")).as("last_day"))
    val mau = activity
      .crossJoin(broadcast(lastDay))
      .select(col("user_id"),
        explode(sequence(col("day"),
          least(col("day") + expr("INTERVAL 29 DAYS"), col("last_day")),
          expr("INTERVAL 1 DAY"))).as("day"))
      .groupBy(col("day"))
      .agg(countDistinct(col("user_id")).as("mau"))
    mau.join(dau, Seq("day"), "left")
      .select(col("day"), coalesce(col("dau"), lit(0L)).as("dau"), col("mau"),
        round(coalesce(col("dau"), lit(0L)).cast("double") /
          col("mau").cast("double") + lit(1e-9), 6).as("stickiness"))
  }

  /** E202 — `events_markov_entropy_rate`: the ENTROPY RATE of the
    * behavior chain — H = −Σᵢ πᵢ Σⱼ pᵢⱼ ln pᵢⱼ over the transition
    * matrix and its stationary vector: how unpredictable the next
    * action is once the chain mixes, in one number. Low rate =
    * funnel-like deterministic behavior, high rate (near ln K) =
    * aimless browsing — the summary that turns `events_transitions` +
    * `events_markov_stationary` into a monitorable KPI (a rate shift
    * means the BEHAVIOR GRAPH changed, before any single transition
    * alarm fires).
    *
    * Determinism: πᵢ comes from the same 6-dp-per-step fold the
    * stationary query pins; each pᵢⱼ·ln pᵢⱼ term quantizes to int64
    * ×10⁹ FIRST (one libm ln on identical 4-dp operands — the
    * char-entropy discipline), πᵢ quantizes ×10⁶ exactly, and the
    * accumulator is an order-immune integer sum in 10⁻¹⁵ units; two
    * final §6 ratios (nats, and /ln 2 for bits). All driver-side on
    * the collected O(types²) matrix — the Markov collect budget. */
  def eventsMarkovEntropyRate(t: Tables, nIters: Int = 8): DataFrame = {
    val sess = t.spark
    import sess.implicits._
    val pRows = eventsTransitions(t)
      .select(col("prev_type"), col("next_type"), col("p_next"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2)))
      .sortBy(r => (r._1, r._2))
    if (pRows.isEmpty)
      return Seq.empty[(Int, Double, Double)]
        .toDF("n_states", "entropy_rate_nats", "entropy_rate_bits")
    def rnd6(x: Double): Double =
      java.math.BigDecimal.valueOf(x + 1e-9)
        .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
    val states = pRows.map(_._1).distinct.sorted
    var pi: Map[String, Double] =
      states.map(_ -> 1.0 / states.length.toDouble).toMap
    for (_ <- 1 to nIters) {
      pi = pRows
        .collect { case (i, j, p) if pi.contains(i) => (j, pi(i) * p) }
        .groupBy(_._1)
        .map { case (j, xs) => j -> rnd6(xs.map(_._2).sum) }
    }
    val h9 = pRows.groupBy(_._1).map { case (i, xs) =>
      i -> xs.map { case (_, _, p) =>
        math.floor(p * math.log(p) * 1e9 + 0.5).toLong }.sum }
    val acc = pi.toSeq.map { case (s, v) =>
      math.floor(v * 1e6 + 0.5).toLong * h9.getOrElse(s, 0L) }.sum
    Seq((pi.size, rnd6(-acc.toDouble / 1e15),
        rnd6(-acc.toDouble / 1e15 / math.log(2.0))))
      .toDF("n_states", "entropy_rate_nats", "entropy_rate_bits")
  }

  /** Scoring stage of [[eventsAnomaly]], factored out so the streaming
    * rollup ([[graft.streaming.Streaming.streamAnomaly]]) scores through
    * the identical plan. Input: an hourly rollup with columns
    * (hour_ts, event_type, n_events).
    */
  def anomalyScore(hourly: DataFrame, zThreshold: Double = 2.0): DataFrame = {
    val w = Window.partitionBy(col("event_type"))
    hourly
      .withColumn("mu", avg(col("n_events")).over(w))
      .withColumn("sigma", stddev_pop(col("n_events")).over(w))
      .filter(col("sigma") > 0 &&
        abs(col("n_events") - col("mu")) > lit(zThreshold) * col("sigma"))
      .select(col("event_type"), col("hour_ts"), col("n_events"),
        round((col("n_events") - col("mu")) / col("sigma") + lit(1e-9), 4)
          .as("z_score"))
  }

  /** `events_new_vs_returning` — daily active users split into
    * first-ever-seen vs returning, with the share of new users — the
    * growth-vs-retention decomposition on every product dashboard.
    *
    * Shape: the deduped (user, day) activity set (one distinct
    * shuffle, bounded by active users), each user's first day as a
    * min over it (user-keyed partial agg), one join back on user_id,
    * and a day-keyed conditional count. No raw-event row survives the
    * first aggregation.
    */
  def eventsNewVsReturning(t: Tables): DataFrame = {
    val activity = t.events
      .select(col("user_id"), to_date(col("ts")).as("day"))
      .distinct()
      .persist()
    activity.count() // first-day agg + the join both read this set
    val firstDay = activity.groupBy(col("user_id"))
      .agg(min(col("day")).as("first_day"))
    activity.join(firstDay, "user_id")
      .groupBy(col("day"))
      .agg(
        sum(when(col("day") === col("first_day"), 1L).otherwise(0L)).as("new_users"),
        sum(when(col("day") =!= col("first_day"), 1L).otherwise(0L)).as("returning_users"))
      .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
        col("new_users"), col("returning_users"),
        (col("new_users") / nullif(col("new_users") + col("returning_users"), lit(0L)))
          .as("new_share"))
  }

  /** `events_value_percentiles` — p50/p90/p99 of event value per
    * type: the latency/value distribution card ("means lie") every
    * monitoring stack publishes. Exact interpolated percentiles via
    * ONE type-keyed aggregate; at 100 TB the same query swaps
    * `percentile` for `percentile_approx` (the t-digest path
    * `q_approx_stats` demonstrates) — the exact form is the oracle
    * anchor.
    */
  def eventsValuePercentiles(t: Tables): DataFrame =
    t.events.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        round(percentile(col("value"), lit(0.5)) + lit(1e-9), 4).as("p50"),
        round(percentile(col("value"), lit(0.9)) + lit(1e-9), 4).as("p90"),
        round(percentile(col("value"), lit(0.99)) + lit(1e-9), 4).as("p99"))

  /** `events_value_percentiles_approx` — the percentile card in its
    * 100 TB form: `percentile_approx` (t-digest-style fixed-accuracy
    * sketch, accuracy 10000) replaces the exact interpolated
    * percentile, so each group reduces O(sketch) state instead of
    * buffering every value for a sort — the swap
    * [[eventsValuePercentiles]]'s scaladoc promises, now a first-class
    * query. Rows-only at the driver gate (sketches are
    * engine-specific); the spec bounds each approximate quantile
    * against the exact twin.
    */
  def eventsValuePercentilesApprox(t: Tables, accuracy: Int = 10000): DataFrame =
    t.events.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        percentile_approx(col("value"), lit(0.5), lit(accuracy)).as("p50"),
        percentile_approx(col("value"), lit(0.9), lit(accuracy)).as("p90"),
        percentile_approx(col("value"), lit(0.99), lit(accuracy)).as("p99"))

  /** `events_value_percentiles_approx_bounded` — the VALUE GATE for
    * [[eventsValuePercentilesApprox]] (the `q_approx_stats_bounded`
    * pattern): each approximate quantile must land inside the exact
    * ±1%-quantile VALUE BAND (p99 clamps its upper bound at the max),
    * which the accuracy-10000 sketch beats by orders of magnitude
    * (rank error ≤ n/10000); the oracle asserts the literal "ok" per
    * group, so a sketch regression fails this named entry loudly. */
  def eventsValuePercentilesApproxBounded(t: Tables): DataFrame = {
    val approx = eventsValuePercentilesApprox(t)
    val exact = t.events.groupBy(col("event_type").as("et"))
      .agg(
        percentile(col("value"), lit(0.49)).as("lo50"),
        percentile(col("value"), lit(0.51)).as("hi50"),
        percentile(col("value"), lit(0.89)).as("lo90"),
        percentile(col("value"), lit(0.91)).as("hi90"),
        percentile(col("value"), lit(0.98)).as("lo99"),
        percentile(col("value"), lit(1.0)).as("hi99"))
    def ok(v: String, lo: String, hi: String) =
      when(col(v).between(col(lo), col(hi)), lit("ok"))
        .otherwise(concat(lit("FAIL:"), col(v))).as(s"${v}_ok")
    approx.join(exact, col("event_type") === col("et"))
      .select(col("event_type"), col("n"),
        ok("p50", "lo50", "hi50"),
        ok("p90", "lo90", "hi90"),
        ok("p99", "lo99", "hi99"))
      .orderBy(col("event_type"))
  }

  /** `events_cuped` — CUPED variance-reduced A/B readout (public
    * Deng/Xu/Kohavi/Walker formulation): each user's PRE-period value
    * total is the covariate X, the POST-period total the metric Y,
    * θ = cov(X,Y)/var(X) over all users, and the reported treatment
    * effect is the difference of θ-adjusted means — the variance-
    * reduction trick every large experimentation platform runs,
    * because pre-period behavior soaks up user-level noise the
    * randomization can't. Also emits the variance-reduction share
    * (corr², the fraction of metric variance the covariate removes).
    *
    * Determinism: per-event values quantize to integer cents map-side
    * ([[graft.functions.ExactAgg]] discipline); per-user X/Y and
    * every moment (Σx, Σy, Σxy, Σx², Σy², per-variant sums) are then
    * EXACT integer reductions — the cross-moments in DECIMAL(38,0)
    * (n·Σxy − ΣxΣy exceeds int64 long before any realistic corpus
    * bound; decimal keeps the engines exact where int64 would wrap
    * Spark-side and HUGEINT-promote DuckDB-side). θ, means and corr²
    * are then scalar IEEE ops on identical operands, rounded with
    * the shared +1e-9 nudge.
    *
    * Shape: ONE user-keyed partial-agg pass over raw events, one
    * global fold of the per-user frame — O(users) shuffle, O(1)
    * result; at 100 TB both stages are the same two map-side-combine
    * aggregations.
    */
  def eventsCuped(t: Tables, splitDay: Int = 15): DataFrame = {
    val day = datediff(col("ts").cast("date"), lit(java.sql.Date.valueOf("2024-01-01")))
    val cents = floor(col("value") * 100 + lit(0.5)).cast("long")
    val dec = "decimal(38,0)"
    val users = t.events
      .select(col("user_id"), day.as("day"), cents.as("cents"))
      .groupBy(col("user_id"))
      .agg(sum(when(col("day") < splitDay, col("cents")).otherwise(0L)).as("x"),
        sum(when(col("day") >= splitDay, col("cents")).otherwise(0L)).as("y"))
      .withColumn("variant",
        when(substring(md5(col("user_id").cast("string")), 1, 1) < "8", "A")
          .otherwise("B"))
    val f = users.agg(
      count(lit(1)).as("n"),
      sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum(col("x").cast(dec) * col("x")).as("sxx"),
      sum(col("x").cast(dec) * col("y")).as("sxy"),
      sum(when(col("variant") === "A", 1L).otherwise(0L)).as("n_a"),
      sum(when(col("variant") === "A", col("x")).otherwise(0L)).as("sx_a"),
      sum(when(col("variant") === "A", col("y")).otherwise(0L)).as("sy_a"),
      sum(when(col("variant") === "B", 1L).otherwise(0L)).as("n_b"),
      sum(when(col("variant") === "B", col("x")).otherwise(0L)).as("sx_b"),
      sum(when(col("variant") === "B", col("y")).otherwise(0L)).as("sy_b"),
      sum(col("y").cast(dec) * col("y")).as("syy"))
    val nD = col("n").cast(dec)
    val covXY = (nD * col("sxy") - col("sx").cast(dec) * col("sy")).cast("double")
    val varX = (nD * col("sxx") - col("sx").cast(dec) * col("sx")).cast("double")
    val varY = (nD * col("syy") - col("sy").cast(dec) * col("sy")).cast("double")
    val theta = covXY / nullif(varX, lit(0.0))
    def mean(s: Column, cnt: Column): Column =
      s / nullif(cnt, lit(0L)) / lit(100.0) // back to currency units
    val diffRaw = mean(col("sy_b"), col("n_b")) - mean(col("sy_a"), col("n_a"))
    val diffCuped = diffRaw -
      theta * (mean(col("sx_b"), col("n_b")) - mean(col("sx_a"), col("n_a")))
    f.select(
      col("n").as("n_users"), col("n_a"), col("n_b"),
      round(theta + lit(1e-9), 4).as("theta"),
      round(diffRaw + lit(1e-9), 4).as("diff_raw"),
      round(diffCuped + lit(1e-9), 4).as("diff_cuped"),
      round(covXY * covXY / nullif(varX * varY, lit(0.0)) + lit(1e-9), 4)
        .as("var_reduction"))
  }

  /** `events_rfm` — per-user RFM profile (recency / frequency /
    * monetary), the standard user-value segmentation: days since the
    * user's last event relative to the corpus's max day, event count,
    * value total, and a recency band label.
    *
    * Shape: ONE user-keyed aggregation over raw events (map-side
    * partial agg), then the corpus max-day — a one-row aggregate —
    * arrives by broadcast cross join: per-user state is O(1) and the
    * only per-row shuffle is the keyed agg itself. Bands use fixed
    * day thresholds, not ntile: no single-partition global sort at
    * any user count.
    */
  /** `events_ab_test` — experimentation readout: users assigned to
    * variants by id hash (the deterministic 50/50 split an
    * experimentation platform runs), conversion = a high-value purchase (value > 180), and
    * the A→B readout: per-variant rates, relative lift, and the
    * two-proportion pooled z-score that says whether the difference
    * is noise. Here the "experiment" is a hash split of identical
    * traffic, so the z-score SHOULD be insignificant — the A/A test a
    * platform validates itself with.
    *
    * Shape: one user-keyed conversion aggregate (map-side partial),
    * one variant fold, one-row math. Every input to the z formula is
    * an exact integer ratio, so the doubles agree bit-for-bit
    * cross-engine; only the final stats round.
    */
  def eventsAbTest(t: Tables): DataFrame = {
    val users = t.events
      .groupBy(col("user_id"))
      .agg(max(when(col("event_type") === "purchase" && col("value") > 180, 1L)
        .otherwise(0L)).as("converted"))
      .withColumn("variant",
        when(substring(md5(col("user_id").cast("string")), 1, 1) < "8", "A")
          .otherwise("B"))
    val folded = users.agg(
      sum(when(col("variant") === "A", 1L).otherwise(0L)).as("n_a"),
      sum(when(col("variant") === "A", col("converted")).otherwise(0L)).as("conv_a"),
      sum(when(col("variant") === "B", 1L).otherwise(0L)).as("n_b"),
      sum(when(col("variant") === "B", col("converted")).otherwise(0L)).as("conv_b"))
    // nullif guards: an empty or fully-converting slice must yield
    // NULL stats, not an ANSI divide-by-zero (E27 robustness contract)
    val pA = col("conv_a") / nullif(col("n_a"), lit(0L))
    val pB = col("conv_b") / nullif(col("n_b"), lit(0L))
    val pPool = (col("conv_a") + col("conv_b")) / nullif(col("n_a") + col("n_b"), lit(0L))
    val se = nullif(sqrt(pPool * (lit(1.0) - pPool)
      * (lit(1.0) / nullif(col("n_a"), lit(0L)) + lit(1.0) / nullif(col("n_b"), lit(0L)))), lit(0.0))
    folded.select(
      col("n_a"), col("conv_a"), round(pA + lit(1e-9), 4).as("rate_a"),
      col("n_b"), col("conv_b"), round(pB + lit(1e-9), 4).as("rate_b"),
      round(pB / pA - lit(1.0) + lit(1e-9), 4).as("lift"),
      round((pB - pA) / se + lit(1e-9), 4).as("z_score"))
  }

  /** E211 — `events_ooo_audit`: the OUT-OF-ORDER-ARRIVAL audit every
    * CDC/stream consumer needs before trusting event-time logic —
    * how often does an event arrive AFTER a later-timestamped event
    * of the same key, and by how much: the measured distribution
    * that justifies (or indicts) a watermark setting
    * (`stream_window_agg`'s 1-hour bound is a CLAIM until this
    * measures the tail). Arrival order is the event-id sequence (the
    * corpus's ingestion order); an event is out-of-order when its
    * event time trails the running per-user maximum of everything
    * that arrived before it. Per event type: events, OOO count, the
    * worst lateness in seconds, and an exact integer ppm rate.
    *
    * Exactness: microsecond integers end to end; the lateness is a
    * window max over prior arrivals minus the row's own µs; ppm is
    * an integer DIV. Shape: ONE user-partitioned window pass over
    * raw events (arrival windows shard by the natural key — the
    * sessionize shape) + one type-keyed rollup. */
  def eventsOooAudit(t: Tables): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    t.events
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts").cast("timestamp")).as("us"))
      .withColumn("late_us",
        greatest(coalesce(max(col("us")).over(w) - col("us"), lit(0L)),
          lit(0L)))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(when(col("late_us") > 0, 1L).otherwise(0L)).as("n_ooo"),
        expr("CAST(max(late_us) DIV 1000000 AS BIGINT)").as("max_late_s"))
      .withColumn("ooo_ppm", expr("n_ooo * 1000000 DIV n_events"))
  }

  /** E209 — `events_audience_overlap`: the pairwise AUDIENCE-OVERLAP
    * matrix over event types — exact Jaccard of the user sets behind
    * every pair of behaviors (who views also clicks; do purchasers
    * share users with refunders) — the audience-planning board next
    * to the per-type reach counts ([[eventsActiveUsers]] answers
    * WHEN, this answers WHO-ALSO). Type count is a small vocabulary,
    * so the full matrix is exact and cheap: the deduped (type, user)
    * set self-joins USER-KEYED (per-user fan-out ≤ types², never
    * all-users-pairs), per-type sizes broadcast back, Jaccard =
    * |A∩B| / (|A| + |B| − |A∩B|) as one §6 ratio. At 100 TB the
    * exact sets swap for per-type HLL sketches with the same shape
    * (the `stream_active_users` trade, noted). */
  def eventsAudienceOverlap(t: Tables): DataFrame = {
    val sets = t.events.select(col("event_type"), col("user_id")).distinct()
    val sizes = sets.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"))
    val inter = sets.as("a")
      .join(sets.as("b"), col("a.user_id") === col("b.user_id") &&
        col("a.event_type") < col("b.event_type"))
      .groupBy(col("a.event_type").as("type_a"),
        col("b.event_type").as("type_b"))
      .agg(count(lit(1)).as("n_both"))
    inter
      .join(broadcast(sizes.select(col("event_type").as("type_a"),
        col("n").as("n_a"))), Seq("type_a"))
      .join(broadcast(sizes.select(col("event_type").as("type_b"),
        col("n").as("n_b"))), Seq("type_b"))
      .select(col("type_a"), col("type_b"), col("n_a"), col("n_b"),
        col("n_both"),
        round(col("n_both").cast("double") /
          (col("n_a") + col("n_b") - col("n_both")).cast("double")
          + lit(1e-9), 4).as("jaccard"))
  }

  /** E206 — `events_srm`: the SAMPLE-RATIO-MISMATCH guard every
    * experimentation platform runs BEFORE reading a test
    * ([[eventsAbTest]], [[eventsCuped]]): if the realized assignment
    * split deviates from the designed 50/50 beyond chance, the
    * randomization itself is broken (bot filtering, logging loss,
    * redirect bugs) and every downstream metric is invalid — the
    * classic silent killer of A/B programs (public Fabijan et al.
    * 2019 diagnosis). One-df chi-square against the designed split:
    * for 50/50 the statistic collapses to (n_A − n_B)²/(n_A + n_B) —
    * exact integer numerator/denominator, ONE §6 ratio, flagged at
    * the 3.841 critical value (95%). The flag compares the ROUNDED
    * statistic so both engines decide identically.
    *
    * Shape: one distinct + one conditional-sum fold over assigned
    * users — the same two-exchange shape as the test readout it
    * guards. */
  def eventsSrm(t: Tables): DataFrame = {
    val users = t.events.select(col("user_id")).distinct()
      .withColumn("variant",
        when(substring(md5(col("user_id").cast("string")), 1, 1) < "8", "A")
          .otherwise("B"))
    val chi2 = round((col("n_a") - col("n_b")) * (col("n_a") - col("n_b"))
      / nullif((col("n_a") + col("n_b")).cast("double"), lit(0.0))
      + lit(1e-9), 4)
    users.agg(
        sum(when(col("variant") === "A", 1L).otherwise(0L)).as("n_a"),
        sum(when(col("variant") === "B", 1L).otherwise(0L)).as("n_b"))
      .select(col("n_a"), col("n_b"), chi2.as("chi2"),
        (chi2 > 3.841).as("srm_detected"))
  }

  /** E207 — `events_did`: DIFFERENCE-IN-DIFFERENCES over the
    * variant assignment — the quasi-experimental estimator for when
    * the treatment toggles at a known TIME (day 15) rather than per
    * user: the B-group's pre→post metric shift minus the A-group's
    * shift nets out the seasonal/global drift both groups share
    * (public Card–Krueger design). Complements [[eventsAbTest]]
    * (between-group at one time) and [[eventsCuped]] (variance
    * reduction): this is the panel-over-time reading.
    *
    * Exactness: each of the four cell means is an
    * [[graft.functions.ExactAgg.exactMean]] (×10⁴ int64 quantization
    * before any reduction — order-immune), so all four are
    * bit-identical doubles cross-engine; the DiD combination
    * subtracts them in one fixed association order mirrored by the
    * oracle, then the single §6 rounding. Shape: ONE conditional
    * fold over raw events — four fused conditional aggregates, zero
    * joins, one exchange. */
  def eventsDid(t: Tables, boundaryDay: Int = 15): DataFrame = {
    import graft.functions.ExactAgg
    val base = t.events.select(
      when(substring(md5(col("user_id").cast("string")), 1, 1) < "8", "A")
        .otherwise("B").as("variant"),
      when(datediff(col("ts").cast("date"),
        lit(java.sql.Date.valueOf("2024-01-01"))) < boundaryDay, "pre")
        .otherwise("post").as("period"),
      col("value"))
    def cellVal(v: String, p: String): Column =
      when(col("variant") === v && col("period") === p, col("value"))
    def cellN(v: String, p: String): Column =
      sum(when(col("variant") === v && col("period") === p, 1L).otherwise(0L))
    base.agg(
        cellN("A", "pre").as("n_a_pre"), cellN("A", "post").as("n_a_post"),
        cellN("B", "pre").as("n_b_pre"), cellN("B", "post").as("n_b_post"),
        ExactAgg.exactMean(cellVal("A", "pre"), 4).as("mean_a_pre"),
        ExactAgg.exactMean(cellVal("A", "post"), 4).as("mean_a_post"),
        ExactAgg.exactMean(cellVal("B", "pre"), 4).as("mean_b_pre"),
        ExactAgg.exactMean(cellVal("B", "post"), 4).as("mean_b_post"))
      .withColumn("did", round(
        (col("mean_b_post") - col("mean_b_pre"))
          - (col("mean_a_post") - col("mean_a_pre")) + lit(1e-9), 4))
  }

  /** `events_funnel_timing` — conversion latency between funnel
    * stages: over users who completed view → click → purchase (the
    * [[eventsFunnel]] cohort), the mean and median seconds from first
    * view to first qualifying click and from that click to first
    * qualifying purchase. Counts alone say WHETHER users convert;
    * this says HOW LONG conversion takes — the other axis every
    * funnel dashboard plots.
    *
    * Shape: identical user-keyed min-aggregation chain as the funnel
    * (co-partitioned after the first shuffle), then ONE global fold
    * of the per-user stage latencies. Exact integer microsecond
    * differences; means/medians round at 4 dp with the shared +1e-9
    * tie guard.
    */
  def eventsFunnelTiming(t: Tables): DataFrame = {
    val e = t.events.select(col("user_id"), col("event_type"), us.as("us"))
    val viewed = e.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("us")).as("v_us"))
    val clicked = e.filter(col("event_type") === "click")
      .join(viewed, "user_id")
      .filter(col("us") > col("v_us"))
      .groupBy(col("user_id")).agg(min(col("us")).as("c_us"))
    val purchased = e.filter(col("event_type") === "purchase")
      .join(clicked, "user_id")
      .filter(col("us") > col("c_us"))
      .groupBy(col("user_id")).agg(min(col("us")).as("p_us"))
    purchased
      .join(viewed, "user_id").join(clicked, "user_id")
      .select(((col("c_us") - col("v_us")) / lit(1000000L)).as("v2c_s"),
        ((col("p_us") - col("c_us")) / lit(1000000L)).as("c2p_s"))
      .agg(count(lit(1)).as("n_converted"),
        ExactAgg.exactMean(col("v2c_s"), 4).as("avg_view_to_click_s"),
        round(percentile(col("v2c_s"), lit(0.5)) + lit(1e-9), 4).as("med_view_to_click_s"),
        ExactAgg.exactMean(col("c2p_s"), 4).as("avg_click_to_purchase_s"),
        round(percentile(col("c2p_s"), lit(0.5)) + lit(1e-9), 4).as("med_click_to_purchase_s"))
  }

  /** `events_burst_windows` — rate-burst detection: (user, hopping
    * 10-minute window) pairs whose event count reaches `minEvents` —
    * the per-entity rate screen behind bot/abuse detection and
    * client-retry storms. Hopping windows (5-minute hop) catch bursts
    * that straddle a tumbling boundary.
    *
    * Shape: Spark's `window()` expands each event to its ≤2 covering
    * windows map-side (constant fan-out), then ONE (user, window)
    * keyed count with map-side partial agg — the same cost class as a
    * tumbling rollup; the threshold filter prunes before any further
    * consumer. The oracle replays the hop arithmetic explicitly
    * (each event's two aligned window starts).
    */
  def eventsBurstWindows(t: Tables, minEvents: Int = 2): DataFrame =
    t.events
      .groupBy(col("user_id"),
        window(col("ts"), "10 minutes", "5 minutes").as("w"))
      .agg(count(lit(1)).as("n_events"))
      .filter(col("n_events") >= minEvents)
      .select(col("user_id"),
        date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
        col("n_events"))

  /** `events_forecast_eval` — backtest of the seasonal baseline: the
    * per-(type, hour-of-day) mean hourly volume learned on every day
    * BEFORE the corpus's last day predicts that last day's hourly
    * counts; the report scores MAE and mean bias per type over the
    * test day's observed hours. "Publish the baseline" (E8/
    * [[eventsSeasonalProfile]]) is only half the job — this is the
    * accuracy card that says whether the baseline is usable.
    *
    * Shape: one (type, hour)-rollup shuffle over raw events feeds
    * BOTH train and test sides from a shared persisted frame (split
    * by the broadcast last-day scalar); model and eval are
    * metadata-scale aggregates (#types × 24 rows).
    */
  def eventsForecastEval(t: Tables): DataFrame = {
    val hourly = t.events
      .groupBy(date_trunc("hour", col("ts")).as("hour_ts"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .persist()
    hourly.count() // train + test both read this rollup
    val lastDay = hourly.agg(max(to_date(col("hour_ts"))).as("last_day"))
    val tagged = hourly.crossJoin(broadcast(lastDay))
    val train = tagged.filter(to_date(col("hour_ts")) < col("last_day"))
      .groupBy(col("event_type"), hour(col("hour_ts")).as("hod"))
      // exact integer sum / count: avg(double) would be summation-
      // order-dependent and pred feeds the error metrics downstream
      .agg((sum(col("n_events")).cast("double") / count(lit(1))).as("pred"))
    val test = tagged.filter(to_date(col("hour_ts")) === col("last_day"))
      .select(col("event_type"), hour(col("hour_ts")).as("hod"),
        col("n_events").as("actual"))
    test.join(train, Seq("event_type", "hod"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_hours"),
        ExactAgg.exactMean(abs(col("pred") - col("actual")), 4).as("mae"),
        ExactAgg.exactMean(col("pred") - col("actual"), 4).as("bias"))
  }

  /** Per-user distinct purchased items, md5-rank-capped at
    * `maxItemsPerUser` (hyperactive-user guard; exact when a user has
    * ≤ cap distinct items). Deterministic, so the DuckDB oracle
    * replays the identical sample. */
  private[operators] def cappedUserItems(t: Tables, maxItemsPerUser: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    t.events.filter(col("event_type") === "purchase")
      .select(col("user_id"),
        get_json_object(col("props"), "$.k").cast("int").as("item"))
      .distinct()
      .withColumn("rk", row_number().over(Window.partitionBy(col("user_id"))
        .orderBy(md5(concat_ws(":", col("user_id"), col("item"))), col("item"))))
      .filter(col("rk") <= maxItemsPerUser)
      .drop("rk")
  }

  /** The co-purchase item graph every graph operator here reads: one
    * basket-keyed self-join of a capped `(basket…, item)` set, giving
    * each canonical pair `(a, b)` with `a < b` and its support `sup`,
    * the number of baskets holding both. The basket is `user_id` for
    * the all-time graph ([[cappedUserItems]]) and `(user_id, day)` for
    * the same-day graph ([[cappedDayItems]]); the cap bounds each
    * basket's O(d²) pair fan-out. Callers that need only the edge set
    * select `(a, b)` and Catalyst prunes the count. */
  private[graft] def itemPairs(items: DataFrame, basket: Seq[String]): DataFrame =
    items.as("a")
      .join(items.as("b"), basket.map(k => col(s"a.$k") === col(s"b.$k"))
        .reduce(_ && _) && col("a.item") < col("b.item"))
      .groupBy(col("a.item").as("a"), col("b.item").as("b"))
      .agg(count(lit(1)).as("sup"))

  /** The all-time co-purchase edge set `(a, b)`, `a < b`. */
  private def coPurchaseEdges(t: Tables, maxItemsPerUser: Int): DataFrame =
    itemPairs(cappedUserItems(t, maxItemsPerUser), Seq("user_id"))
      .select(col("a"), col("b"))

  /** The same-day co-purchase edge set `(a, b)`, `a < b`: items one
    * user bought within one calendar day. */
  private def dayEdges(t: Tables, maxItemsPerDay: Int): DataFrame =
    itemPairs(cappedDayItems(t, maxItemsPerDay), Seq("user_id", "day"))
      .select(col("a"), col("b"))

  /** Symmetric closure of a canonical `(a, b)` edge set: `(src, dst)`
    * both ways, each row carrying `carry`. Already distinct, because
    * the canonical pairs are. */
  private def bothWays(und: DataFrame, carry: Column*): DataFrame =
    und.select(col("a").as("src") +: col("b").as("dst") +: carry: _*)
      .unionAll(und.select(col("b").as("src") +: col("a").as("dst") +: carry: _*))

  /** Undirected degree `(node, deg)` of an `(a, b)` edge set. */
  private def degrees(und: DataFrame): DataFrame =
    und.select(col("a").as("node"))
      .unionAll(und.select(col("b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))

  /** E212 — `events_basket_lift`: ASSOCIATION RULES over the purchase
    * baskets — support, confidence, and LIFT per co-purchased item
    * pair (the Agrawal–Srikant market-basket classics):
    * [[eventsRecommendCooccur]] ranks raw co-counts, but a co-count
    * is popularity-confounded — two best-sellers co-occur by chance;
    * lift = P(a,b)/(P(a)·P(b)) is the measure that separates genuine
    * affinity (> 1) from shelf-traffic coincidence (≈ 1), and
    * confidence is the rule strength a recommender thresholds on.
    * Pairs below `minCo` support are cut (the classic min-support
    * prune — at 100 TB this is WHY the computation is tractable:
    * candidate pairs are generated user-keyed and pruned before any
    * downstream join).
    *
    * Exactness: everything is exact integers — support/confidence as
    * ×10⁶ integer-DIV ppm, lift as ×10³ integer-DIV milli-units
    * (n_both·n_baskets·1000 stays far inside int64 at any realistic
    * basket count) — no float ratio ever crosses the engine
    * boundary. Shape: the capped basket set ([[cappedUserItems]] —
    * the cooccur hyperactive-user cap), ONE user-keyed self-join
    * ([[itemPairs]]), broadcast item totals + one-row basket total. */
  def eventsBasketLift(t: Tables, minCo: Int = 3,
      maxItemsPerUser: Int = 64): DataFrame = {
    val items = cappedUserItems(t, maxItemsPerUser)
    val nBaskets = items.select(col("user_id")).distinct()
      .agg(count(lit(1)).as("n_baskets"))
    val itemN = items.groupBy(col("item")).agg(count(lit(1)).as("n"))
    itemPairs(items, Seq("user_id"))
      .select(col("a").as("item_a"), col("b").as("item_b"), col("sup").as("n_both"))
      .filter(col("n_both") >= minCo)
      .join(broadcast(itemN.select(col("item").as("item_a"),
        col("n").as("n_a"))), Seq("item_a"))
      .join(broadcast(itemN.select(col("item").as("item_b"),
        col("n").as("n_b"))), Seq("item_b"))
      .crossJoin(broadcast(nBaskets))
      .select(col("item_a"), col("item_b"), col("n_a"), col("n_b"),
        col("n_both"),
        expr("n_both * 1000000 DIV n_baskets").as("support_ppm"),
        expr("n_both * 1000000 DIV n_a").as("conf_ab_ppm"),
        expr("(n_both * n_baskets * 1000) DIV (n_a * n_b)").as("lift_milli"))
  }

  /** `events_hits` — HITS hubs & authorities (public Kleinberg 1999)
    * over the user→item purchase BIPARTITE graph — the
    * mutual-reinforcement readout [[eventsPagerank]]'s item-item
    * projection can't give: an item is authoritative because
    * well-spread buyers (hubs) buy it, and a buyer is a hub because
    * they buy authoritative items. Two full mutual-reinforcement
    * rounds (a₀ → h₁ → a₁ → h₂ → a₂), reported per item with its
    * buyer count.
    *
    * Solved for the iterative-float trap the [[eventsPagerank]] way:
    * NO per-round float normalization — scores stay in integer
    * micro-units (a₀ = 1000) and every update is an order-immune
    * int64 SUM over a keyed join, so both rounds replay bit-exact in
    * the oracle's unrolled CTE chain (unnormalized HITS has the same
    * ranking as the normalized iteration at every step; the degree
    * cap bounds the growth well inside int64). Each half-round is
    * one keyed equi-join + partial-agg sum — the same
    * shuffle-bounded shape as a PageRank round, state O(users +
    * items), never materializing any neighborhood. */
  def eventsHits(t: Tables, maxItemsPerUser: Int = 64): DataFrame = {
    val ui = cappedUserItems(t, maxItemsPerUser)
    val h1 = ui.groupBy(col("user_id"))
      .agg((count(lit(1)) * 1000L).as("h1"))
    val a1 = ui.join(h1, "user_id")
      .groupBy(col("item")).agg(sum(col("h1")).as("a1"))
    val h2 = ui.join(a1, "item")
      .groupBy(col("user_id")).agg(sum(col("a1")).as("h2"))
    val a2 = ui.join(h2, "user_id")
      .groupBy(col("item"))
      .agg(count(lit(1)).as("n_buyers"), sum(col("h2")).as("auth_micro"))
    a2.select(col("item"), col("n_buyers"), col("auth_micro"))
  }

  /** `events_pagerank` — item centrality over the co-purchase graph:
    * PageRank (public Brin/Page formulation, damping 0.85) on the
    * symmetric item-co-occurrence graph [[eventsRecommendCooccur]]
    * mines pairs from — the global "which items anchor the catalog"
    * signal a per-pair count can't give (a hub connected to many
    * mid-hubs outranks one big pair).
    *
    * Determinism — the iterative-float trap, solved the ExactAgg way:
    * ranks live in INTEGER micro-units (r₀ = 10⁶) and every update is
    * exact integer arithmetic — per-edge contribution `r DIV deg`,
    * damped update `150000 + (17·Σ) DIV 20` (0.85 = 17/20 in floor
    * division) — so the per-node neighbor SUM is an order-immune
    * int64 reduction and all three engines' rounds replay bit-exact
    * (quantization bias < 1 micro-unit per term, far under any
    * ranking use). A float PageRank's neighbor sums would legally
    * differ by engine/order at every iteration.
    *
    * Shape: edges are the symmetric closure of the capped per-user
    * item pairs ([[itemPairs]], the cooccur fan-out guard), then each
    * round is ONE edge-keyed join + partial-agg sum over (item, long)
    * pairs — the [[graft.operators.Dedup.connectedComponents]] loop
    * shape with a fixed 3-round depth (no lineage growth concern at
    * 3; the CC checkpoint lesson applies at ~60).
    */
  def eventsPagerank(t: Tables, iters: Int = 3,
      maxItemsPerUser: Int = 64): DataFrame = {
    val edges = bothWays(coPurchaseEdges(t, maxItemsPerUser))
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    var r = deg.select(col("src").as("item"), lit(1000000L).as("r"))
    for (_ <- 1 to iters) {
      r = edges.join(r, edges("src") === r("item"))
        .join(deg, "src")
        .select(col("dst"), expr("r DIV deg").as("c"))
        .groupBy(col("dst")).agg(sum(col("c")).as("s"))
        .select(col("dst").as("item"),
          (lit(150000L) + expr("(17 * s) DIV 20")).as("pr_micro"))
        .withColumnRenamed("pr_micro", "r")
    }
    r.select(col("item"), col("r").as("pr_micro"))
  }

  /** E200 — `events_ppr`: PERSONALIZED PageRank from the catalog hub
    * (max-degree item, min-id tiebreak — `events_reach`'s seed rule)
    * over the co-purchase graph: teleport mass returns to the SEED
    * alone, so scores rank items by proximity to the hub's
    * neighborhood rather than global centrality — the standard
    * related-items / seeded-recommendation walk
    * (`events_pagerank` answers "globally important"; this answers
    * "important NEAR this item", and the two rankings disagree by
    * design on any non-vertex-transitive graph).
    *
    * Same integer-exact iterative discipline as `events_pagerank`:
    * micro-unit int64 scores, per-edge integral division r DIV deg,
    * damped spread (17·Σ) DIV 20 with the 0.15 teleport (150000 µ)
    * credited only to the seed; every round replays verbatim in the
    * oracle's unrolled CTEs. Unreached nodes hold exact 0 (they get
    * no teleport), so the score support traces the seed's reachable
    * set — rounds bound the walk radius like the BFS.
    *
    * Shape: the seed is ONE bounded collected row; each round is one
    * edge⋈score equi-join + dst-keyed partial-agg sum + a left join
    * back to the node table — state O(nodes), nothing cartesian. */
  def eventsPpr(t: Tables, iters: Int = 3,
      maxItemsPerUser: Int = 64): DataFrame = {
    val edges = bothWays(coPurchaseEdges(t, maxItemsPerUser))
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    val seedRow = deg.orderBy(desc("deg"), asc("src")).limit(1).collect()
    if (seedRow.isEmpty) {
      val sess = t.spark
      import sess.implicits._
      return Seq.empty[(Int, Long)].toDF("item", "ppr_micro")
    }
    val seed = seedRow(0).getInt(0)
    var r = deg.select(col("src").as("item"),
      when(col("src") === seed, lit(1000000L)).otherwise(lit(0L)).as("r"))
    for (_ <- 1 to iters) {
      val spread = edges.join(r, edges("src") === r("item"))
        .join(deg, "src")
        .select(col("dst").as("item"), expr("r DIV deg").as("c"))
        .groupBy(col("item")).agg(sum(col("c")).as("s"))
      r = deg.select(col("src").as("item"))
        .join(spread, Seq("item"), "left")
        .select(col("item"),
          (when(col("item") === seed, lit(150000L)).otherwise(lit(0L)) +
            expr("(17 * coalesce(s, 0L)) DIV 20")).as("r"))
    }
    r.select(col("item"), col("r").as("ppr_micro"))
  }

  /** `events_triangles` — per-item triangle participation over the
    * co-purchase graph: how many closed item triples each catalog
    * item sits in — the local clustering signal (bundle detection,
    * community seeds) that pairwise co-occurrence counts
    * ([[eventsRecommendCooccur]]) and global centrality
    * ([[eventsPagerank]]) both miss. Counted by the one forward pass,
    * [[forwardTriangles]]; zero-triangle nodes surface with 0 via a
    * left join from the degree table (row count == graph nodes,
    * deterministic).
    */
  def eventsTriangles(t: Tables, maxItemsPerUser: Int = 64): DataFrame =
    triangleStats(t, maxItemsPerUser)
      .select(col("node").as("item"), col("n_triangles"))
      .orderBy(col("item"))

  /** `events_clustering_coeff` — local clustering coefficient per
    * item: 2T / (deg·(deg−1)), the share of a node's neighbor pairs
    * that are themselves connected — the transitivity readout that
    * separates "hub of a clique" from "hub of a star" at equal
    * degree, consumed directly from [[triangleStats]]' one shared
    * pass (degree-1 nodes get 0 by convention). The division is one
    * scalar op on two exact integers — engine-identical under the
    * §6 rounding rule.
    */
  def eventsClusteringCoeff(t: Tables, maxItemsPerUser: Int = 64): DataFrame =
    triangleStats(t, maxItemsPerUser)
      .select(col("node").as("item"), col("deg"), col("n_triangles"),
        when(col("deg") < 2, lit(0.0)).otherwise(
          round(lit(2) * col("n_triangles") /
            (col("deg") * (col("deg") - 1)) + lit(1e-9), 4))
          .as("clustering_coeff"))
      .orderBy(col("item"))

  /** `events_neighbor_jaccard` — neighborhood Jaccard per co-purchase
    * EDGE: |N(a)∩N(b)| / |N(a)∪N(b)| for every connected item pair —
    * the classic link-prediction / "how substitutable are these two
    * items" similarity (public Liben-Nowell–Kleinberg 2003) that raw
    * co-occurrence counts ([[eventsRecommendCooccur]]) can't give:
    * two items bought together once by everyone score high there but
    * low here unless their NEIGHBORHOODS agree.
    *
    * Shape: common neighbors of an edge = that edge's triangle
    * count, so this rides the same forward pass as [[eventsTriangles]]
    * ([[forwardTriangles]]) — each found triangle is exploded to its
    * THREE canonical edges and counted per edge, then one degree join
    * finishes |union| = deg_a + deg_b − common. All exact integers
    * until the single §6-rounded ratio. */
  def eventsNeighborJaccard(t: Tables, maxItemsPerUser: Int = 64): DataFrame = {
    val und = coPurchaseEdges(t, maxItemsPerUser)
    val (deg, tri) = forwardTriangles(und)
    // each triangle {u, x, y} belongs to 3 canonical (min, max) edges
    val perEdge = tri.select(explode(array(
        struct(least(col("u"), col("x")).as("a"), greatest(col("u"), col("x")).as("b")),
        struct(least(col("u"), col("y")).as("a"), greatest(col("u"), col("y")).as("b")),
        struct(least(col("x"), col("y")).as("a"), greatest(col("x"), col("y")).as("b"))))
        .as("e"))
      .select(col("e.a").as("a"), col("e.b").as("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("common"))
    und.join(perEdge, Seq("a", "b"), "left")
      .join(deg.select(col("node").as("a"), col("deg").as("da")), Seq("a"))
      .join(deg.select(col("node").as("b"), col("deg").as("db")), Seq("b"))
      .select(col("a"), col("b"),
        coalesce(col("common"), lit(0L)).as("common_neighbors"),
        round(coalesce(col("common"), lit(0L)).cast("double") /
          (col("da") + col("db") - coalesce(col("common"), lit(0L))).cast("double")
          + lit(1e-9), 4).as("jaccard"))
  }

  /** The Schank–Wagner FORWARD pass over a canonical `(a, b)` edge set,
    * the distributed triangle-counting standard: the degree table
    * `(node, deg)` and every triangle `(u, x, y)` exactly once. Each
    * undirected edge is oriented from its (degree, id)-smaller
    * endpoint toward the larger, so every node's out-degree is O(√m)
    * regardless of skew — the celebrity node that would generate a
    * degree² wedge explosion under naive enumeration instead RECEIVES
    * edges and generates no wedges. Wedges are an out-edge self-join
    * on the source (each triangle {a,b,c} with a ≺ b ≺ c enumerated
    * exactly once as the wedge b←a→c), closed by ONE equi-join probing
    * the oriented edge (b→c) — all keyed joins and partial-agg counts,
    * nothing cartesian, no driver-side state. Degrees, orientation,
    * and the wedge order are integer-deterministic, so the DuckDB
    * oracle replays the identical enumeration. */
  private def forwardTriangles(und: DataFrame): (DataFrame, DataFrame) = {
    val deg = degrees(und)
    // orient a→b iff (deg_a, a) ≺ (deg_b, b); a < b makes the tie case
    // collapse to deg_a <= deg_b. Carry the head's degree for the
    // wedge-order comparison below.
    val oriented = und
      .join(deg.select(col("node").as("a"), col("deg").as("da")), Seq("a"))
      .join(deg.select(col("node").as("b"), col("deg").as("db")), Seq("b"))
      .select(
        when(col("da") <= col("db"), col("a")).otherwise(col("b")).as("u"),
        when(col("da") <= col("db"), col("b")).otherwise(col("a")).as("v"),
        when(col("da") <= col("db"), col("db")).otherwise(col("da")).as("dv"))
    // wedges x←u→y with x ≺ y close iff the oriented edge x→y exists
    val wedges = oriented.select(col("u"), col("v").as("x"), col("dv").as("dx"))
      .join(oriented.select(col("u"), col("v").as("y"), col("dv").as("dy")),
        Seq("u"))
      .filter(col("dx") < col("dy") ||
        (col("dx") === col("dy") && col("x") < col("y")))
    (deg, wedges.join(
      oriented.select(col("u").as("x"), col("v").as("y")), Seq("x", "y")))
  }

  /** Per-node readout of [[forwardTriangles]] behind
    * [[eventsTriangles]] and [[eventsClusteringCoeff]]:
    * (node, deg, n_triangles) for every graph node. */
  private def triangleStats(t: Tables, maxItemsPerUser: Int): DataFrame = {
    val (deg, tri) = forwardTriangles(coPurchaseEdges(t, maxItemsPerUser))
    val perNode = tri
      .select(explode(array(col("u"), col("x"), col("y"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("n"))
    deg.join(perNode, Seq("node"), "left")
      .select(col("node"), col("deg"),
        coalesce(col("n"), lit(0L)).as("n_triangles"))
  }

  /** `events_recommend_cooccur` — item-to-item co-occurrence counts
    * (the "users who bought X also bought Y" primitive), over the
    * integer item key in `props`: per user the DISTINCT purchased
    * item set, all within-user pairs, counted across users, top-20.
    *
    * Shape: the pair explosion is the classic co-occurrence hazard —
    * the within-user self-join emits O(d²) pairs for a user with d
    * distinct items, so ONE bot account with 10⁵ items would push
    * 5×10⁹ pairs through a single task at 100 TB. The guard is
    * [[cappedUserItems]]: per-user distinct items are md5-rank-capped
    * at `maxItemsPerUser` BEFORE pairing — a deterministic unbiased
    * sample that is EXACT below the threshold (the rank filter keeps
    * every item of a user with ≤ cap items; test-data max is 25 vs
    * the default cap 64). Distinct-set dedup and the pair count
    * ([[itemPairs]]' support: `(user, item)` is distinct, so it counts
    * distinct users) are keyed partial-agg shuffles; the final cut is
    * TakeOrdered, never a global sort.
    */
  def eventsRecommendCooccur(t: Tables, topK: Int = 20,
      maxItemsPerUser: Int = 64): DataFrame =
    itemPairs(cappedUserItems(t, maxItemsPerUser), Seq("user_id"))
      .select(col("a").as("item_a"), col("b").as("item_b"), col("sup").as("n_users"))
      .orderBy(col("n_users").desc, col("item_a"), col("item_b"))
      .limit(topK)

  /** `events_attribution_linear` — linear multi-touch attribution:
    * each purchase's value splits EQUALLY across every view/click in
    * its trailing `windowDays` window (strictly before the purchase);
    * purchases with no prior touch land in the `none` bucket at full
    * value. The fractional-credit complement of the last-touch model
    * ([[eventsAttribution]]).
    *
    * Shape: the time-range join is BANDED — purchases (the small
    * side) explode to the ≤ windowDays+1 day-buckets their window
    * spans, touches key by their own bucket, and the join runs on
    * (user, bucket) equality with the exact range as a residual
    * filter: always an equi-join shuffle, never a range-condition
    * nested loop (`q_range_join_banded`'s trick applied to
    * attribution). Per-purchase touch counts are a count window keyed
    * by purchase id over matches only; match rows persist once for
    * the credit and the `none` anti-join.
    */
  def eventsAttributionLinear(t: Tables, windowDays: Int = 7): DataFrame = {
    val winUs = windowDays.toLong * 86400L * 1000000L
    val bucketUs = 86400L * 1000000L
    val p = t.events.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id"), us.as("p_us"),
        col("value").as("p_value"))
    val tc = t.events.filter(col("event_type").isin("view", "click"))
      .select(col("user_id"), us.as("t_us"), col("event_type").as("touch_type"))
      .withColumn("bucket", floor(col("t_us") / lit(bucketUs)).cast("long"))
    val pb = p.withColumn("bucket", explode(sequence(
      floor((col("p_us") - lit(winUs)) / lit(bucketUs)).cast("long"),
      floor(col("p_us") / lit(bucketUs)).cast("long"))))
    val m = pb.join(tc, Seq("user_id", "bucket"))
      .filter(col("t_us") < col("p_us") && col("t_us") >= col("p_us") - lit(winUs))
      .select(col("p_id"), col("p_value"), col("touch_type"))
      .persist()
    m.count() // two consumers below; don't race the lazy cache
    val credited = m.withColumn("n_t",
      count(lit(1)).over(org.apache.spark.sql.expressions.Window.partitionBy(col("p_id"))))
    val attributed = credited.groupBy(col("touch_type"))
      .agg(count(lit(1)).as("n_credits"),
        round(sum(col("p_value") / col("n_t")) + lit(1e-9), 2).as("attributed_value"))
    val none = p.join(m.select(col("p_id")).distinct(), Seq("p_id"), "left_anti")
      .agg(count(lit(1)).as("n_credits"),
        round(sum(col("p_value")) + lit(1e-9), 2).as("attributed_value"))
      .select(lit("none").as("touch_type"), col("n_credits"), col("attributed_value"))
    attributed.unionByName(none).filter(col("n_credits") > 0)
  }

  /** `events_session_stats` — the session-quality summary over
    * [[Relational.qSessionize]]'s output: session count, events per
    * session (mean/median), dwell time, and the single-event bounce
    * rate — the engagement card a product team reads daily.
    *
    * Shape: the sessionize pass itself is the only per-event work
    * (one user-keyed window shuffle); sessions are ≤ events rows, and
    * the report is ONE global aggregate folding them to a single row.
    * Divisions are exact-int → double; means/medians round at 4 dp
    * with the +1e-9 half-tie guard both engines share.
    */
  def eventsSessionStats(t: Tables): DataFrame = {
    val sessions = Relational.qSessionize(t)
      .select(col("n_events"),
        (unix_micros(col("end_ts").cast("timestamp"))
          - unix_micros(col("start_ts").cast("timestamp"))).as("duration_us"))
    sessions.agg(
      count(lit(1)).as("n_sessions"),
      ExactAgg.exactMean(col("n_events"), 4).as("avg_events"),
      round(percentile(col("n_events"), lit(0.5)) + lit(1e-9), 4).as("med_events"),
      ExactAgg.exactMean(col("duration_us"), 4).as("avg_duration_us"),
      max(col("duration_us")).as("max_duration_us"),
      (sum(when(col("n_events") === 1, 1L).otherwise(0L))
        / nullif(count(lit(1)), lit(0L))).as("bounce_rate"))
  }

  def eventsRfm(t: Tables): DataFrame = {
    val days = t.events.select(
      col("user_id"), to_date(col("ts")).as("day"), col("value"))
    val maxDay = days.agg(max(col("day")).as("max_day"))
    days.groupBy(col("user_id"))
      .agg(max(col("day")).as("last_day"),
        count(lit(1)).as("frequency"),
        round(sum(col("value")), 2).as("monetary"))
      .crossJoin(broadcast(maxDay))
      .withColumn("recency_days",
        datediff(col("max_day"), col("last_day")).cast("long"))
      .select(col("user_id"), col("recency_days"), col("frequency"),
        col("monetary"),
        when(col("recency_days") <= 2, "active")
          .when(col("recency_days") <= 7, "warm")
          .otherwise("lapsed").as("segment"))
  }

  /** `events_ltv_cohort` — lifetime-value curves by signup cohort:
    * users cohorted by their first-ever-seen day, purchase value
    * rolled up per (cohort, days-since-signup age) with distinct
    * buyers, then ACCUMULATED over age — the per-cohort LTV curve
    * growth/finance teams read payback periods from, and the natural
    * companion to [[eventsRetention]] (same cohort key, value instead
    * of presence).
    *
    * Shape: the first-seen day is one user-keyed min aggregate (the
    * `events_new_vs_returning` shape); the rollup is one
    * (cohort, age) partial agg; accumulation is a frame-ordered
    * running sum over the TINY rollup (≤ cohorts×maxAge rows). The
    * day sums are 2-dp money over 2-dp inputs — exact-by-margin at
    * the 2-dp round (§6 class 1), and the cumulative sum re-adds the
    * already-rounded day values in frame order, identical on both
    * engines.
    */
  def eventsLtvCohort(t: Tables, maxAgeDays: Int = 14): DataFrame = {
    val firstDay = t.events.groupBy(col("user_id"))
      .agg(min(to_date(col("ts"))).as("cohort_day"))
    val byAge = t.events.filter(col("event_type") === "purchase")
      .select(col("user_id"), to_date(col("ts")).as("day"), col("value"))
      .join(firstDay, "user_id")
      .withColumn("age_days",
        datediff(col("day"), col("cohort_day")).cast("long"))
      .filter(col("age_days") <= maxAgeDays)
      .groupBy(col("cohort_day"), col("age_days"))
      .agg(countDistinct(col("user_id")).as("n_buyers"),
        round(sum(col("value")), 2).as("day_value"))
    val w = Window.partitionBy(col("cohort_day")).orderBy(asc("age_days"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    byAge.select(date_format(col("cohort_day"), "yyyy-MM-dd").as("cohort_day"),
      col("age_days"), col("n_buyers"), col("day_value"),
      round(sum(col("day_value")).over(w), 2).as("cum_value"))
  }

  /** Per-(user, day) distinct purchased items, md5-rank-capped —
    * [[cappedUserItems]]' fan-out guard applied to the BASKET key, so
    * a bot account's single giant day can't explode the same-day
    * pairing below. */
  private[graft] def cappedDayItems(t: Tables, maxItems: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    t.events.filter(col("event_type") === "purchase")
      .select(col("user_id"), to_date(col("ts")).as("day"),
        get_json_object(col("props"), "$.k").cast("int").as("item"))
      .distinct()
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("user_id"), col("day"))
          .orderBy(md5(concat_ws(":", col("user_id"), col("item"))), col("item"))))
      .filter(col("rk") <= maxItems)
      .drop("rk")
  }

  /** `events_kcore` — bounded-round k-core peel over the SAME-DAY
    * co-purchase graph (items bought by one user within one calendar
    * day — the basket-level association, much sparser and more
    * structured than the all-time projection [[eventsTriangles]]
    * uses): `rounds` synchronous rounds of "drop every node whose
    * degree in the surviving subgraph is < k", the standard
    * cohesive-subgraph readout (public Seidman 1983 /
    * Batagelj–Zaveršnik formulation) that separates the densely
    * cross-bought basket core from pendant long-tail items — a
    * signal neither triangles (local) nor PageRank (walk-based)
    * gives.
    *
    * BOUNDED iteration is the determinism contract: both engines run
    * exactly `rounds` peel rounds (the DuckDB oracle unrolls the same
    * chain as exact-integer CTEs), so the gate never depends on a
    * convergence race; the fixpoint property itself is asserted in
    * the spec (rounds and rounds+1 produce identical output on the
    * test graph — peeling converges in O(diameter) rounds in
    * practice).
    *
    * Shape: each round is one symmetric-degree partial-agg count plus
    * two LEFT SEMI joins filtering the edge list on the survivor set
    * — all keyed shuffles over (int, int) pairs, state O(edges),
    * nothing collected. A round's plan embeds the previous round's
    * three times (degree union + both semi-joins), so the peel runs
    * through [[Rounds.run]], which cuts each round and frees the one
    * it replaced. The (node-level) result is cut once more while the
    * edge cache is live, and that cut alone backs the returned frame:
    * the last round's blocks and the edge cache are freed before it
    * returns, and the consumer never re-reads the events. */
  def eventsKcore(t: Tables, k: Int = 5, rounds: Int = 4,
      maxItemsPerDay: Int = 64,
      localMaxEdges: Long = Dedup.LocalCcMaxEdges): DataFrame = {
    val und = dayEdges(t, maxItemsPerDay).persist()
    // ADAPTIVE LOCAL FALLBACK (the connectedComponents discipline):
    // below the edge ceiling the whole graph fits on the driver and a
    // local peel beats paying 4 rounds of distributed-job latency —
    // the spec proves label parity against the distributed loop
    if (Dedup.runsLocal(und.count(), localMaxEdges)) {
      val sess = und.sparkSession
      import sess.implicits._
      var es = und.select(col("a").cast("long"), col("b").cast("long"))
        .as[(Long, Long)].collect().toSet
      und.unpersist()
      val allN = es.flatMap(e => Set(e._1, e._2))
      for (_ <- 1 to rounds) {
        val deg = es.toSeq.flatMap(e => Seq(e._1, e._2))
          .groupBy(identity).map { case (n, xs) => n -> xs.size }
        val surv = deg.filter(_._2 >= k).keySet
        es = es.filter(e => surv(e._1) && surv(e._2))
      }
      val degF = es.toSeq.flatMap(e => Seq(e._1, e._2))
        .groupBy(identity).map { case (n, xs) => n -> xs.size.toLong }
      return allN.toSeq.sorted
        .map(n => (n.toInt, degF.getOrElse(n, 0L), degF.getOrElse(n, 0L) >= k))
        .toDF("item", "core_deg", "in_core")
    }
    val allNodes = und.select(col("a").as("item"))
      .unionAll(und.select(col("b").as("item"))).distinct()
    val peel = Rounds.run(und, rounds) { round =>
      val surv = degrees(round.prev).filter(col("deg") >= k)
      round.prev
        .join(surv.select(col("node").as("a")), Seq("a"), "left_semi")
        .join(surv.select(col("node").as("b")), Seq("b"), "left_semi")
    }
    val degF = degrees(peel.last).select(col("node").as("item"), col("deg").as("core_deg"))
    val out = Rounds.cut(allNodes.join(degF, Seq("item"), "left")
      .select(col("item"),
        coalesce(col("core_deg"), lit(0L)).as("core_deg"),
        (coalesce(col("core_deg"), lit(0L)) >= k).as("in_core")))
    Rounds.release(peel.last)
    und.unpersist()
    out
  }

  /** `events_funnel_by_variant` — the ordered conversion funnel
    * ([[eventsFunnel]]) SPLIT BY EXPERIMENT ARM (the
    * [[eventsAbTest]] md5 assignment): per variant, users who
    * viewed, clicked strictly after their first view, and purchased
    * strictly after that click, with the two step-conversion rates —
    * the per-arm funnel readout an experiment review reads next to
    * the value-based t-test (a variant can lift revenue while
    * leaking users at the click step; neither query alone shows it).
    * Same keyed min-timestamp shape as the funnel, one extra
    * variant-keyed rollup; rates are ratios of exact counts. */
  def eventsFunnelByVariant(t: Tables): DataFrame = {
    val e = t.events.select(col("user_id"), col("event_type"), us.as("us"))
    val variant =
      when(substring(md5(col("user_id").cast("string")), 1, 1) < "8", "A")
        .otherwise("B")
    val viewed = e.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("us")).as("v_us"))
    val clicked = e.filter(col("event_type") === "click")
      .join(viewed, "user_id").filter(col("us") > col("v_us"))
      .groupBy(col("user_id")).agg(min(col("us")).as("c_us"))
    val purchased = e.filter(col("event_type") === "purchase")
      .join(clicked, "user_id").filter(col("us") > col("c_us"))
      .groupBy(col("user_id")).agg(min(col("us")).as("p_us"))
    def perVariant(df: DataFrame, name: String) = df
      .groupBy(variant.as("variant")).agg(count(lit(1)).as(name))
    perVariant(viewed, "n_view")
      .join(perVariant(clicked, "n_click"), Seq("variant"), "left")
      .join(perVariant(purchased, "n_purchase"), Seq("variant"), "left")
      .select(col("variant"), col("n_view"),
        coalesce(col("n_click"), lit(0L)).as("n_click"),
        coalesce(col("n_purchase"), lit(0L)).as("n_purchase"),
        round(coalesce(col("n_click"), lit(0L)).cast("double") /
          col("n_view").cast("double") + lit(1e-9), 4).as("click_rate"),
        round(coalesce(col("n_purchase"), lit(0L)).cast("double") /
          nullif(coalesce(col("n_click"), lit(0L)).cast("double"), lit(0.0))
          + lit(1e-9), 4).as("purchase_rate"))
  }

  /** `events_gini` — activity-concentration report: the Gini
    * coefficient of per-user event volume plus the top-decile share —
    * "do 10% of users generate 90% of the traffic", the inequality
    * readout capacity planning and abuse triage both start from.
    *
    * Exact, and WITHOUT a global rank window: the sample Gini
    * G = 2·Σ(rankᵢ·xᵢ)/(n·Σx) − (n+1)/n needs every user's rank in
    * the value order, which naively is one single-partition window
    * over all users. Split two-level instead (the `q_skyline` /
    * token-shard prefix discipline): per distinct VOLUME VALUE, a
    * partial-agg user count; base ranks from a prefix sum over that
    * tiny distinct-value table (metadata-scale — volumes repeat
    * heavily); intra-value ranks from a window PARTITIONED BY the
    * value (keyed). Tie order inside a value can't change Σ rank·x
    * (the tie group's rank sum is fixed), so the statistic is
    * order-immune and exact: int64/DECIMAL(38,0) sums, two §6
    * ratios at the end, bit-identical in the oracle's plain
    * row_number replay. */
  def eventsGini(t: Tables): DataFrame = {
    val x = t.events.groupBy(col("user_id")).agg(count(lit(1)).as("x"))
    val byVal = x.groupBy(col("x")).agg(count(lit(1)).as("nv"))
    // prefix over DISTINCT volume values — metadata-scale by design
    val wVals = Window.orderBy(asc("x"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val base = byVal.withColumn("base", coalesce(sum(col("nv")).over(wVals), lit(0L)))
    val wIntra = Window.partitionBy(col("x")).orderBy(asc("user_id"))
    val ranked = x.join(base.select(col("x"), col("base")), Seq("x"))
      .withColumn("rank", col("base") + row_number().over(wIntra))
    val n = x.count()
    val k = n / 10
    val agg = ranked.agg(
      sum(col("x")).as("total"),
      sum(col("rank").cast("decimal(38,0)") * col("x")).as("rx"),
      sum(when(col("rank") > n - k, col("x")).otherwise(lit(0L))).as("topx"))
    agg.select(lit(n).as("n_users"), col("total").as("total_events"),
      round(lit(2.0) * col("rx").cast("double") /
          (lit(n.toDouble) * col("total").cast("double"))
          - lit((n + 1).toDouble / n.toDouble) + lit(1e-9), 6).as("gini"),
      round(col("topx").cast("double") / col("total").cast("double") + lit(1e-9), 6)
        .as("top_decile_share"))
  }

  /** `events_bot_detect` — heuristic automation scoring per user, the
    * abuse/quality screen an event pipeline runs before analytics
    * (bots poison funnels, retention, and recommendation counts): per
    * user, the burstiest minute (max events in any calendar minute),
    * the duplicate-action count (events − distinct (type, item,
    * minute) triples), and the activity span — combined into an
    * integer rule score (burst ≥ 10/min → +2, ≥ 5 → +1; dup ratio
    * ≥ ½ exact-integer compare → +1; ≥ 100 events inside a ≤ 2-hour
    * span → +1), flagged at score ≥ 2. Rule scoring (not a model) is
    * deliberate: deterministic, explainable, and the industry's
    * first-line screen.
    *
    * The synthetic event table has no automation in it (uniform ≤2
    * events/minute for every user), so the screen runs over the real
    * events UNIONED with a deterministic bot injection — every user
    * whose md5 first nibble is 1 (~1/16) gets a 25-event
    * same-item burst inside one calendar minute (the
    * `corpus_pii_scrub` ground-truth-injection discipline). That
    * makes the flag set a measurable ground truth: the spec asserts
    * the screen recovers EXACTLY the injected users — precision and
    * recall 1.0 on the labels, not "thresholds that never fire".
    *
    * Shape: the injection is one map-side explode off a user-keyed
    * min-timestamp rollup; then one (user, minute)-keyed count, one
    * user-keyed distinct-triple count, one user-keyed span rollup —
    * all partial-agg shuffles over key+counter pairs; no windows over
    * raw events, no driver state. All thresholds compare exact
    * integers, so the flag replays bit-identically in the oracle. */
  def eventsBotDetect(t: Tables): DataFrame =
    botUserStats(botPerMinute(botFeed(t)))

  /** The screen's input feed: real events projected to (user, type,
    * item, µs) plus the deterministic bot injection — test-corpus
    * construction, not part of the operator (a production screen
    * consumes the raw stream; [[graft.streaming.Streaming
    * .streamBotDetect]] stages exactly this feed as its source). */
  private[graft] def botFeed(t: Tables): DataFrame = {
    val real = t.events.select(col("user_id"), col("event_type"),
      get_json_object(col("props"), "$.k").as("item"),
      unix_micros(col("ts").cast("timestamp")).as("us"))
    val botUsers = real.groupBy(col("user_id")).agg(min(col("us")).as("us0"))
      .filter(substring(md5(col("user_id").cast("string")), 1, 1) === "1")
    val synth = botUsers
      .withColumn("i", explode(sequence(lit(0), lit(24))))
      .select(col("user_id"), lit("purchase").as("event_type"),
        lit("999").as("item"),
        (expr("us0 DIV 60000000") * lit(60000000L) + col("i") * lit(2000000L))
          .as("us"))
    real.unionByName(synth)
  }

  /** The per-(user, calendar-minute) rollup BOTH screens share — and
    * exactly the state a streaming screen keeps per key: event count,
    * distinct (type, item) count (minute is part of the dedup triple,
    * so per-minute distincts SUM exactly to the global triple count),
    * and the minute's µs extent. */
  private[graft] def botPerMinute(feed: DataFrame): DataFrame =
    feed.withColumn("minute", expr("us DIV 60000000"))
      .groupBy(col("user_id"), col("minute"))
      .agg(count(lit(1)).as("n"),
        size(collect_set(struct(col("event_type"), col("item"))))
          .cast("long").as("nd"),
        min(col("us")).as("mn_us"), max(col("us")).as("mx_us"))

  /** Fold the per-minute rollup to per-user stats + the integer rule
    * score — decomposable aggregates only, so batch raw-event input
    * and a drained streaming state table produce identical rows. */
  private[graft] def botUserStats(pm: DataFrame): DataFrame = {
    val agg = pm.groupBy(col("user_id")).agg(
      sum(col("n")).as("n_events"),
      max(col("n")).as("max_per_minute"),
      sum(col("nd")).as("n_distinct"),
      ((max(col("mx_us")) - min(col("mn_us"))) / lit(1000000L)).cast("long")
        .as("span_sec"))
    val score =
      when(col("max_per_minute") >= 10, lit(2))
        .otherwise(when(col("max_per_minute") >= 5, lit(1)).otherwise(lit(0))) +
      when(lit(2) * (col("n_events") - col("n_distinct")) >= col("n_events"),
        lit(1)).otherwise(lit(0)) +
      when(col("n_events") >= 100 && col("span_sec") <= 7200, lit(1))
        .otherwise(lit(0))
    agg.select(col("user_id"), col("n_events"), col("max_per_minute"),
      (col("n_events") - col("n_distinct")).as("n_dup_events"),
      col("span_sec"), score.cast("long").as("bot_score"),
      (score >= 2).as("flagged"))
  }

  /** `events_assortativity` — degree assortativity (public Newman
    * 2002): the Pearson correlation of endpoint degrees over the
    * undirected co-purchase edge set — one scalar saying whether
    * hub items co-sell with other hubs (assortative, r > 0) or with
    * the long tail (disassortative, r < 0). The graph-level mixing
    * summary that per-node stats ([[eventsTriangles]],
    * [[eventsClusteringCoeff]]) can't give.
    *
    * Determinism — the exact-moments discipline of
    * [[eventsCuped]]: each edge contributes BOTH directions (so the
    * x- and y-marginals coincide and r reduces to
    * (m·Σxy − (Σx)²) / (m·Σx² − (Σx)²)), degrees and all five
    * moments are exact int64/DECIMAL(38,0) sums (DuckDB replays them
    * in HUGEINT — m·Σxy overflows int64 two orders of magnitude
    * before it overflows 128-bit, even at 100 TB edge counts), and
    * only the final scalar ratio converts to IEEE double under the
    * §6 rounding rule. Shape: degree partial-agg + two keyed joins
    * decorating edges with endpoint degrees + ONE global moment
    * aggregation — no per-node state on the driver, output is a
    * single row. */
  def eventsAssortativity(t: Tables, maxItemsPerUser: Int = 64): DataFrame = {
    val und = coPurchaseEdges(t, maxItemsPerUser)
    val dec = degrees(und).select(col("node"), col("deg").cast("decimal(38,0)").as("d"))
    val moments = bothWays(und)
      .join(dec.select(col("node").as("src"), col("d").as("dx")), Seq("src"))
      .join(dec.select(col("node").as("dst"), col("d").as("dy")), Seq("dst"))
      .agg(count(lit(1)).as("m"),
        sum(col("dx")).as("sx"),
        sum(col("dx") * col("dy")).as("sxy"),
        sum(col("dx") * col("dx")).as("sxx"))
    val num = (col("m").cast("decimal(38,0)") * col("sxy") -
      col("sx") * col("sx")).cast("double")
    val den = (col("m").cast("decimal(38,0)") * col("sxx") -
      col("sx") * col("sx")).cast("double")
    moments.select(
      (col("m") / lit(2)).cast("long").as("n_edges"),
      round(col("sx").cast("double") / col("m").cast("double") + lit(1e-9), 4)
        .as("mean_deg"),
      // zero degree variance (regular graph): r is undefined, report 0
      when(den === lit(0.0), lit(0.0))
        .otherwise(round(num / den + lit(1e-9), 4)).as("r_assort"))
  }

  /** `events_communities` — synchronous label propagation (public
    * Raghavan–Albert–Kumara 2007) over the SAME-DAY basket
    * co-purchase graph ([[cappedDayItems]] — the all-time projection
    * is near-complete on this corpus, where neighbor-majority voting
    * degenerates to one global community; basket edges carry the
    * actual association structure, the `events_kcore` lesson): each
    * round every item adopts its neighbors' MOST FREQUENT current
    * label (ties → smallest label), starting from label = own id —
    * the linear-time community readout next to the walk (PageRank),
    * transitivity (triangles), and cohesion (k-core) signals; unlike
    * connected components it splits a connected graph along its
    * density structure.
    *
    * Determinism = bounded iteration + a total argmax order: both
    * engines run exactly `rounds` synchronous rounds (LPA's fixpoint
    * oscillates on bipartite-ish graphs, so the round count IS part
    * of the spec), and the adopted label is the lexicographic max of
    * (count, −label) — a partial-aggregating struct-max, the
    * `langArgmax` shape, never a per-node sort. Each round is one
    * edge⋈label equi-join + one (node, label)-keyed count + one
    * node-keyed struct-max — all keyed partial aggs, state O(nodes),
    * no lineage concern at 3 rounds (the CC checkpoint lesson applies
    * at ~60). Final labels are decorated with their community size
    * via one label-keyed count window.
    */
  def eventsCommunities(t: Tables, rounds: Int = 3,
      maxItemsPerDay: Int = 64): DataFrame = {
    val edges = bothWays(dayEdges(t, maxItemsPerDay))
    var labels = edges.select(col("src").as("item"))
      .distinct().withColumn("lbl", col("item"))
    for (_ <- 1 to rounds) {
      labels = edges.join(labels, edges("src") === labels("item"))
        .groupBy(col("dst"), col("lbl")).agg(count(lit(1)).as("c"))
        .groupBy(col("dst"))
        .agg(max(struct(col("c"), (-col("lbl")).as("nl"))).as("m"))
        .select(col("dst").as("item"), (-col("m.nl")).as("lbl"))
    }
    labels
      .withColumn("community_size",
        count(lit(1)).over(Window.partitionBy(col("lbl"))))
      .select(col("item"), col("lbl").as("community"), col("community_size"))
  }

  /** `events_seasonality_strength` — per event type, HOW seasonal the
    * hourly volume actually is: the variance-decomposition strength
    * 1 − SS_residual/SS_total (the STL-style readout, public
    * Hyndman's forecasting-practice formulation) where the seasonal
    * component is the hour-of-day mean over the gap-filled spine —
    * the one-number justification for keeping `events_seasonal
    * _profile` as a baseline at all (a type with strength ≈ 0 should
    * be monitored against its global mean instead), plus the peak
    * hour. Silent hours count 0 via the `q_gap_fill` spine — a
    * nightly trough IS seasonality and must not be dropped.
    *
    * Determinism: hour-of-day means and the global mean are
    * [[ExactAgg]] 4-dp exact; each squared deviation quantizes
    * ×10⁴ to int64 BEFORE the sum (the entropy/PSI discipline —
    * order-immune integer reductions); strength is one final scalar
    * ratio under §6. Shape: one (type, hour) rollup sees raw events;
    * spine, hour-of-day means (≤ 24×types rows) and the deviation
    * sums run at metadata scale.
    */
  def eventsSeasonalityStrength(t: Tables): DataFrame = {
    val hourly = t.events
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hour_ts"))
      .agg(count(lit(1)).as("x"))
    val span = hourly.groupBy(col("event_type"))
      .agg(min(col("hour_ts")).as("h0"), max(col("hour_ts")).as("h1"))
    val spine = span.select(col("event_type"),
        explode(sequence(col("h0"), col("h1"), expr("INTERVAL 1 HOUR")))
          .as("hour_ts"))
      .join(hourly, Seq("event_type", "hour_ts"), "left")
      .select(col("event_type"), col("hour_ts"),
        coalesce(col("x"), lit(0L)).as("x"),
        hour(col("hour_ts")).as("h24"))
    val hodMean = spine.groupBy(col("event_type"), col("h24"))
      .agg(ExactAgg.exactMean(col("x"), 4).as("m"))
    val typeMean = spine.groupBy(col("event_type"))
      .agg(ExactAgg.exactMean(col("x"), 4).as("mu"),
        count(lit(1)).as("n_hours"))
    val terms = spine.join(hodMean, Seq("event_type", "h24"))
      .join(typeMean, Seq("event_type"))
      .select(col("event_type"), col("n_hours"),
        floor((col("x") - col("m")) * (col("x") - col("m")) * lit(1e4)
          + lit(0.5)).cast("long").as("qr"),
        floor((col("x") - col("mu")) * (col("x") - col("mu")) * lit(1e4)
          + lit(0.5)).cast("long").as("qt"))
    val ss = terms.groupBy(col("event_type"), col("n_hours"))
      .agg(sum(col("qr")).as("ssr"), sum(col("qt")).as("sst"))
    val peak = hodMean
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("event_type")).orderBy(desc("m"), asc("h24"))))
      .filter(col("rn") === 1)
      .select(col("event_type"), col("h24").as("peak_hour"))
    ss.join(peak, "event_type")
      .select(col("event_type"), col("n_hours"), col("peak_hour"),
        round(greatest(lit(0.0),
          lit(1.0) - col("ssr").cast("double") /
            nullif(col("sst").cast("double"), lit(0.0))) + lit(1e-9), 4)
          .as("seasonality_strength"))
  }

  /** `events_reach` — bounded-round BFS hop distances from the
    * catalog's HUB item (max basket degree, min-id tiebreak) over the
    * same-day co-purchase graph: how many association hops each item
    * sits from the best-connected product — the reachability readout
    * (merchandising adjacency, recommendation cold-start seeds) that
    * completes the graph family: walk (PageRank), transitivity
    * (triangles), cohesion (k-core), community (LPA), distance
    * (this). Items unreached within the bound report −1.
    *
    * Determinism = bounded iteration (exactly `rounds` min-plus
    * relaxations, unrolled in the oracle) + the integer seed rule.
    * Shape: the degree rollup picks the seed (ONE collected row);
    * each round is one edge⋈dist equi-join + dst-keyed partial MIN +
    * a union-min with the previous frontier — the
    * `connectedComponents` loop shape with fixed depth 3, state
    * O(nodes), all exact integers.
    */
  def eventsReach(t: Tables, rounds: Int = 3,
      maxItemsPerDay: Int = 64): DataFrame = {
    val edges = bothWays(dayEdges(t, maxItemsPerDay))
    val deg = edges.groupBy(col("src").as("item")).agg(count(lit(1)).as("deg"))
    // the hub: max degree, min item — one bounded collected row
    val seedRow = deg.orderBy(desc("deg"), asc("item")).limit(1).collect()
    if (seedRow.isEmpty) { // empty slice: no graph, empty result
      val sess = t.spark
      import sess.implicits._
      return Seq.empty[(Int, Long)].toDF("item", "dist")
    }
    val seed = seedRow(0).getInt(0)
    var dist = edges.sparkSession.range(1)
      .select(lit(seed).as("item"), lit(0L).as("dist"))
    for (_ <- 1 to rounds) {
      val relaxed = edges.join(dist, edges("src") === dist("item"))
        .select(col("dst").as("item"), (col("dist") + 1).as("dist"))
      dist = dist.unionByName(relaxed)
        .groupBy(col("item")).agg(min(col("dist")).as("dist"))
    }
    deg.select(col("item"))
      .join(dist, Seq("item"), "left")
      .select(col("item"), coalesce(col("dist"), lit(-1L)).as("dist"))
  }

  /** `events_survival` — Kaplan–Meier user-retention curve (public
    * Kaplan–Meier 1958) with right-censoring: per user, lifetime =
    * last activity day − first activity day; users whose last day is
    * the corpus's final day are CENSORED (still alive at the
    * observation edge — counting them as churned is the classic
    * retention-curve bias this estimator exists to fix), everyone
    * else churns at their lifetime. The life table reports, per
    * observed lifetime t: the risk set (users with lifetime ≥ t),
    * churn and censor exits at t, and the KM survival estimate.
    *
    * Determinism — the iterative-float trap, solved the
    * `events_pagerank` way: S lives in INTEGER micro-units
    * (S₀ = 10⁶) and each event time applies S ← (S·(n−d)) DIV n —
    * exact integer arithmetic, replayed verbatim by the oracle's
    * RECURSIVE CTE. The fold itself runs driver-side over the
    * COLLECTED life table — bounded by the day span of the corpus
    * (metadata-scale at any event volume, the Markov-matrix collect
    * budget), while the per-user rollup and the life-table
    * construction stay distributed: one user-keyed partial agg over
    * raw events, then windows over the tiny distinct-lifetime table.
    */
  def eventsSurvival(t: Tables): DataFrame = {
    val day = datediff(col("ts").cast("date"),
      lit(java.sql.Date.valueOf("2024-01-01"))).cast("long")
    survivalFromUsers(t.events.select(col("user_id"), day.as("day"))
      .groupBy(col("user_id"))
      .agg(min(col("day")).as("first"), max(col("day")).as("last")))
  }

  /** The life-table + KM fold over a per-user (first, last) activity
    * frame — shared by the batch query and the streaming twin (the
    * per-user extent rollup IS the streaming state: one (min, max)
    * pair per user). */
  private[graft] def survivalFromUsers(users: DataFrame): DataFrame = {
    val spark = users.sparkSession
    // the censoring horizon rides along as a broadcast one-row agg
    // (the minSup convention) instead of a construction-time
    // `.first()`, and the risk set is the SUFFIX sum of exits
    // (every user exits exactly once, so Σ_{t'≥t} exits ≡
    // total − exits-before-t) instead of `total − prefix`, which
    // needed a second construction-time action (`life.count()`):
    // the whole life table is now ONE job — the final collect.
    // An empty cohort flows through as zero rows (empty ⨯ agg-row
    // is empty), collapsing the old explicit empty-return branch.
    val life = users
      .crossJoin(broadcast(users.agg(max(col("last")).as("max_day"))))
      .select(
        when(col("last") < col("max_day"), col("last") - col("first"))
          .otherwise(col("max_day") - col("first")).as("t"),
        (col("last") < col("max_day")).cast("int").as("churn"))
    val byT = life.groupBy(col("t"))
      .agg(sum(col("churn")).cast("long").as("n_churned"),
        sum(lit(1) - col("churn")).cast("long").as("n_censored"))
    // risk set = users still alive at t = everyone exiting at or
    // after t — a suffix window over the DISTINCT-lifetime table
    // (≤ day span, bounded at any event volume)
    val wSuffix = Window.orderBy(asc("t"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val table = byT.withColumn("n_at_risk",
        sum(col("n_churned") + col("n_censored")).over(wSuffix))
      .select(col("t").as("t_days"), col("n_at_risk"),
        col("n_churned"), col("n_censored"))
      .orderBy(col("t_days"))
    // bounded collect: one row per distinct lifetime (≤ corpus day span)
    val rows = table.collect()
    var s = 1000000L
    val out = rows.map { r =>
      val (tD, n, d, c) = (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
      if (d > 0) s = s * (n - d) / n
      (tD, n, d, c, s)
    }
    import spark.implicits._
    out.toSeq.toDF("t_days", "n_at_risk", "n_churned", "n_censored",
      "survival_micro")
  }

  /** `events_changepoint` — CUSUM change-point detection (public Page
    * 1954 / Taylor's cumulative-sum charts) over the hourly event
    * volume: the hour where the cumulative deviation from the global
    * mean rate peaks — "when did the traffic regime shift", the
    * monitoring readout next to the z-score anomaly screen
    * (`events_anomaly` flags hours; this locates the LEVEL SHIFT).
    *
    * Exact without a mean division: with P_t the prefix count through
    * hour index i of n spine hours and T the total, the scaled CUSUM
    * n·P_i − i·T equals n·Σ(x−x̄) — all int64 (hours are bounded by
    * the calendar, counts by the corpus; DECIMAL(38,0) is the 100 TB
    * swap). Silent hours count 0 via the `q_gap_fill` calendar spine.
    * One (hour)-keyed partial agg sees raw events; the spine,
    * prefix window, and argmax run at metadata scale (#hours). The
    * argmax tiebreak is the earliest hour. Segment means before/at
    * and after the split are §6 ratios of exact integers.
    */
  def eventsChangepoint(t: Tables): DataFrame =
    changepointScore(t.events
      .groupBy(date_trunc("hour", col("ts")).as("hour_ts"))
      .agg(count(lit(1)).as("x")))

  /** E201 — `events_holt_forecast`: Holt double-exponential smoothing
    * (public Holt 1957) per event type over the gap-filled daily
    * spine — LEVEL + TREND state, the forecaster that follows a
    * drifting series where `events_forecast_eval`'s seasonal-naive
    * baseline lags by construction; reports the fitted state, the
    * one-step-ahead forecast, and the in-sample one-step MAE (the
    * backtest number you compare against that baseline's).
    *
    * Integer-exact iterative discipline, negative-safe: α=0.2/β=0.1
    * folds run in micro-units as TRUNCATING divisions — probed, not
    * assumed: DuckDB's `//` rounds toward zero on negatives exactly
    * like Scala's Long `/` and Spark's DIV, so negative trends agree
    * bit-for-bit and the oracle's RECURSIVE CTE replays every step. The fold runs driver-side over the collected
    * (type × day) rollup — the Markov/KM collect budget: #types ×
    * #days rows at any corpus size; the only distributed work is the
    * one (type, day)-keyed partial agg that sees raw events. */
  def eventsHoltForecast(t: Tables): DataFrame =
    holtFromCounts(t.events
      .select(col("event_type"),
        datediff(to_date(col("ts")), lit("2024-01-01").cast("date"))
          .cast("long").as("day"))
      .groupBy(col("event_type"), col("day")).agg(count(lit(1)).as("x")))

  /** The Holt fold over a (event_type, day, x) rollup — shared by the
    * batch query and the streaming twin (the rollup IS the streaming
    * state; the fold runs over the drained #types × #days table). */
  private[graft] def holtFromCounts(countsDf: DataFrame): DataFrame = {
    val spark = countsDf.sparkSession
    import spark.implicits._
    val counts = countsDf
      .collect().map(r => ((r.getString(0), r.getLong(1)), r.getLong(2))).toMap
    if (counts.isEmpty)
      return Seq.empty[(String, Long, Long, Long, Long, Long)]
        .toDF("event_type", "n_days", "level_micro", "trend_micro",
          "forecast_micro", "mae_micro")
    val days = counts.keys.map(_._2)
    val (d0, d1) = (days.min, days.max)
    val out = counts.keys.map(_._1).toSeq.distinct.sorted.map { et =>
      val xs = (d0 to d1).map(d => counts.getOrElse((et, d), 0L)).toArray
      val n = xs.length
      var l = xs(0) * 1000000L
      var b = if (n >= 2) (xs(1) - xs(0)) * 1000000L else 0L
      var err = 0L
      var i = 1
      while (i < n) {
        err += math.abs(xs(i) * 1000000L - (l + b))
        val lNew = (2L * xs(i) * 1000000L + 8L * (l + b)) / 10L
        b = ((lNew - l) + 9L * b) / 10L
        l = lNew
        i += 1
      }
      (et, n.toLong, l, b, l + b, if (n > 1) err / (n - 1L) else 0L)
    }
    out.toDF("event_type", "n_days", "level_micro", "trend_micro",
      "forecast_micro", "mae_micro")
  }

  /** `events_holt_winters` — triple exponential smoothing (additive
    * Holt-Winters, period 7): the forecaster the family still lacked —
    * [[eventsHoltForecast]] tracks level+trend but treats the weekly
    * cycle as noise; HW carries SEVEN seasonal components that absorb
    * it, so the one-step forecast anticipates "it's Saturday" instead
    * of chasing it.
    *
    * Same integer micro-unit discipline as Holt (α=0.2, β=0.1, γ=0.1
    * as exact DIV-by-10 chains; seasonal components init at 0 and are
    * LEARNED — both engines fold identical integers, no libm):
    * l′ = (2(x−s₋₇) + 8(l+b)) div 10; b′ = ((l′−l) + 9b) div 10;
    * s′ = ((x−l′) + 9s₋₇) div 10, with the 7-slot season ring carried
    * through the fold. The driver fold runs over the metadata-scale
    * (types × days) rollup, exactly like Holt; the oracle is a
    * recursive CTE carrying the ring as seven columns. The spec proves
    * the seasonality is genuinely captured: on a strongly weekly
    * series, HW's tracking error beats Holt's. */
  def eventsHoltWinters(t: Tables): DataFrame =
    holtWintersFromCounts(t.events
      .select(col("event_type"),
        datediff(to_date(col("ts")), lit("2024-01-01").cast("date"))
          .cast("long").as("day"))
      .groupBy(col("event_type"), col("day")).agg(count(lit(1)).as("x")))

  /** The Holt-Winters fold over a (event_type, day, x) rollup — shared
    * by the batch query and the streaming twin. */
  private[graft] def holtWintersFromCounts(countsDf: DataFrame): DataFrame = {
    val spark = countsDf.sparkSession
    import spark.implicits._
    val counts = countsDf
      .collect().map(r => ((r.getString(0), r.getLong(1)), r.getLong(2))).toMap
    if (counts.isEmpty)
      return Seq.empty[(String, Long, Long, Long, Long, Long, Long)]
        .toDF("event_type", "n_days", "level_micro", "trend_micro",
          "season_next_micro", "forecast_micro", "mae_micro")
    val days = counts.keys.map(_._2)
    val (d0, d1) = (days.min, days.max)
    val out = counts.keys.map(_._1).toSeq.distinct.sorted.map { et =>
      val xs = (d0 to d1).map(d => counts.getOrElse((et, d), 0L)).toArray
      val n = xs.length
      var l = xs(0) * 1000000L
      var b = if (n >= 2) (xs(1) - xs(0)) * 1000000L else 0L
      val ring = Array.fill(7)(0L) // ring(0) = s for the NEXT step
      var err = 0L
      var i = 1
      while (i < n) {
        val x = xs(i) * 1000000L
        val sPrev = ring(0)
        err += math.abs(x - (l + b + sPrev))
        val lNew = (2L * (x - sPrev) + 8L * (l + b)) / 10L
        b = ((lNew - l) + 9L * b) / 10L
        l = lNew
        val sNew = ((x - lNew) + 9L * sPrev) / 10L
        System.arraycopy(ring, 1, ring, 0, 6)
        ring(6) = sNew
        i += 1
      }
      (et, n.toLong, l, b, ring(0), l + b + ring(0),
        if (n > 1) err / (n - 1L) else 0L)
    }
    out.toDF("event_type", "n_days", "level_micro", "trend_micro",
      "season_next_micro", "forecast_micro", "mae_micro")
  }

  /** E198 — `events_acf`: autocorrelation of the daily event-volume
    * series at lags 1..`maxLag` — the "is there a weekly cycle / how
    * sticky is load" readout next to `events_seasonality_strength`
    * (that one tests an ASSUMED hour-of-day period; the ACF finds
    * periodicity without assuming one — its lag-ℓ peaks ARE the
    * candidate periods).
    *
    * §6 class-4 discipline end to end: the Pearson terms are exact
    * int64 sums over integer day counts (n·Σxy − Σx·Σy and the two
    * variance terms — order-immune integer reductions), and the final
    * r = num / sqrt(d1·d2) is ONE float op chain on identical integer
    * operands in both engines (IEEE sqrt/div are correctly rounded,
    * so the doubles match bitwise; rounded 6 dp for display).
    * Int64 bound: n·Σx² < 2^63 caps daily counts at ~√(2^63/365·365)
    * ≈ 10⁸/day-years — past that, quantize counts to thousands (the
    * ExactAgg precondition discipline).
    *
    * Shape: ONE day-keyed partial agg sees raw events; the lag
    * cross-join, pairing self-join, and per-lag rollup all run on the
    * metadata-scale daily table (#days rows). Missing days simply
    * contribute no pair (the join is on exact date arithmetic), so a
    * gapped series degrades to fewer pairs, never to misaligned ones.
    */
  def eventsAcf(t: Tables, maxLag: Int = 7): DataFrame = {
    val d = t.events
      .groupBy(to_date(col("ts")).as("dy"))
      .agg(count(lit(1)).as("c"))
    val lags = t.spark.range(1, maxLag + 1)
      .select(col("id").cast("int").as("lag"))
    val pairs = broadcast(lags)
      .crossJoin(d.select(col("dy").as("a_dy"), col("c").as("x")))
      .join(d.select(col("dy").as("b_dy"), col("c").as("y")),
        expr("b_dy = date_add(a_dy, lag)"))
    pairs.groupBy(col("lag"))
      .agg(count(lit(1)).as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
      .select(col("lag"), col("n"),
        // a zero-variance (constant) series at some lag makes the
        // denominator 0: Spark's x/0.0 is NaN but the oracle errors or
        // NULLs — agree on NULL in BOTH engines (guard product computed
        // in double: the long product can overflow at big daily counts)
        when((col("n") * col("sxx") - col("sx") * col("sx")).cast("double") *
            (col("n") * col("syy") - col("sy") * col("sy")).cast("double") > 0,
          round((col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
            sqrt((col("n") * col("sxx") - col("sx") * col("sx")).cast("double") *
              (col("n") * col("syy") - col("sy") * col("sy")).cast("double")), 6))
          .as("acf"))
  }

  /** The CUSUM scoring stage over an (hour_ts, x) rollup — shared by
    * the batch query and the streaming twin (the rollup is the
    * streaming state; this stage runs over the drained, metadata-
    * scale hourly table, the `stream_anomaly` pattern). */
  private[graft] def changepointScore(hourly: DataFrame): DataFrame = {
    val span = hourly.agg(min(col("hour_ts")).as("h0"), max(col("hour_ts")).as("h1"))
    val spine = span.select(explode(sequence(col("h0"), col("h1"),
        expr("INTERVAL 1 HOUR"))).as("hour_ts"))
      .join(hourly, Seq("hour_ts"), "left")
      .select(
        (unix_micros(col("hour_ts").cast("timestamp")) / lit(3600000000L))
          .cast("long").as("h"),
        coalesce(col("x"), lit(0L)).as("x"))
    val w = Window.orderBy(asc("h"))
    val idx = spine
      .withColumn("i", row_number().over(w).cast("long"))
      .withColumn("p", sum(col("x")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val tot = idx.agg(max(col("i")).as("n"), max(col("p")).as("tt"))
    // abs desc, then earliest hour — deterministic single winner
    val best = idx.crossJoin(broadcast(tot))
      .withColumn("c", col("n") * col("p") - col("i") * col("tt"))
      .withColumn("rn", row_number().over(
        Window.orderBy(abs(col("c")).desc, asc("h"))))
      .filter(col("rn") === 1)
    best.select(col("n").as("n_hours"), col("tt").as("total_events"),
      col("h").as("split_hour"), abs(col("c")).as("max_abs_cusum"),
      round(col("p").cast("double") / col("i").cast("double") + lit(1e-9), 4)
        .as("mean_before"),
      round((col("tt") - col("p")).cast("double") /
        nullif((col("n") - col("i")).cast("double"), lit(0.0)) + lit(1e-9), 4)
        .as("mean_after"))
  }

  /** `events_shortest_paths` — multi-source BFS over the co-purchase
    * item graph: every item's hop distance to the nearest SEED item
    * (`item % 17 = 0` — think "items under recall", "catalog anchors"),
    * cut at `maxDist` hops. Together with components
    * ([[eventsCommunities]]), centrality ([[eventsPagerank]]) and
    * triangles this completes the graph-primitive set: reachability
    * WITH distances, which none of the others expose.
    *
    * BFS is the [[seededWalk]] with every edge cost 1: unit-cost
    * relaxation reaches each node first in the round equal to its hop
    * distance and never improves it afterwards, so `maxDist` rounds
    * under budget `maxDist` are exactly the `maxDist`-hop BFS. `dist`
    * is cast from the walk's long to int, the type consumers and the
    * typed-value oracle gate read. The DuckDB oracle replays the walk
    * as a recursive CTE with min-dist semantics — same seeds, same
    * edges, same cut. */
  def eventsShortestPaths(t: Tables, maxItemsPerUser: Int = 64,
      maxDist: Int = 4,
      localMaxEdges: Long = Dedup.LocalCcMaxEdges): DataFrame =
    seededWalk(t, maxItemsPerUser, lit(1L), maxDist, maxDist.toLong, localMaxEdges)
      .select(col("item"), col("dist").cast("int").as("dist"))

  /** `events_weighted_paths` — WEIGHTED shortest paths over the
    * co-purchase item graph: every item's minimum total COST to the
    * nearest seed item (`item % 17 = 0`), within a cost budget — the
    * weighted companion to [[eventsShortestPaths]] (hop counts treat
    * a barely-significant edge and a massively co-bought one as
    * equal; routing over edge STRENGTH is the question distribution
    * analytics actually ask). Edge cost is support-derived and
    * integer-exact — `2 + sup % 3` ∈ {2,3,4} — so both engines
    * relax identical integers and the oracle needs no float
    * tolerance. With integer costs ≥ 2 and budget B, no in-budget
    * shortest path has more than ⌊B/2⌋ edges, so ⌊B/2⌋ rounds of the
    * [[seededWalk]] ARE the fixpoint. The DuckDB oracle replays the
    * walk as a recursive CTE over the identical weighted edges with
    * min-dist semantics and the same budget cut (UNION-deduped, so
    * the enumeration converges on (item, dist) pairs). */
  def eventsWeightedPaths(t: Tables, maxItemsPerUser: Int = 64,
      budget: Long = 9L,
      localMaxEdges: Long = Dedup.LocalCcMaxEdges): DataFrame =
    seededWalk(t, maxItemsPerUser, lit(2L) + col("sup") % 3,
      (budget / 2L).toInt, budget, localMaxEdges)

  /** The seeded walk behind [[eventsShortestPaths]] and
    * [[eventsWeightedPaths]]: `(item, dist)`, ordered by item, the
    * minimum total `cost` (a column over the pair support `sup`) from
    * the nearest seed (`item % 17 = 0`), for every item within
    * `budget`.
    *
    * Shape: bounded delta-stepping-style relaxation — the
    * Meyer–Sanders (2003) observation reduced to its Spark-friendly
    * core: `rounds` synchronous Bellman-Ford rounds with no
    * convergence probe and no driver round-trip per test. Each round
    * is one keyed equi-join of the IMPROVED frontier against the
    * symmetric weighted edge list, a budget cut, and a min-merge into
    * the settled distances; a node re-expands only when its distance
    * improves, so total work is O(Σ rounds |improved|·avg-degree),
    * never |V|·|E|. The rounds run through [[Rounds.run]]: the round
    * state is the merged `(item, dist, old)` table, cut each round
    * (the superseded round freed), and the improved frontier is a
    * lazy filter over it.
    *
    * Edges carry a SIGNIFICANCE FLOOR: a pair must co-occur in at
    * least `max(2, distinct_users/50)` baskets. Without it the raw
    * co-purchase graph saturates (every popular pair connects and the
    * whole catalog sits at hop 1 — measured at every test SF), which
    * both voids the analytics and is the scale hazard: raw
    * co-occurrence edge count grows ~quadratically in catalog
    * popularity while SUPPORTED edge count tracks genuine structure.
    * The floor is corpus-relative so the graph stays comparable
    * across SFs; items whose every edge falls below it simply don't
    * appear (disconnected under the significance lens).
    *
    * ADAPTIVE LOCAL WALK (the [[Dedup.runsLocal]] rule): a graph at
    * or below `localMaxEdges` collects its (src, dst, cost) triples
    * to the driver and runs the same rounds as hash-map relaxations
    * with the same synchronous min-merge (improvements land after
    * each round, exactly the distributed keyed min-agg). The
    * distributed loop is the 100 TB path. */
  private def seededWalk(t: Tables, maxItemsPerUser: Int, cost: Column,
      rounds: Int, budget: Long, localMaxEdges: Long): DataFrame = {
    val items = cappedUserItems(t, maxItemsPerUser).persist()
    val minSup = items.agg(
      greatest(lit(2L), expr("count(DISTINCT user_id) DIV 50")).as("ms"))
    val und = itemPairs(items, Seq("user_id"))
      .crossJoin(broadcast(minSup))
      .filter(col("sup") >= col("ms"))
    val edges = bothWays(und, cost.as("cost")).persist()
    if (Dedup.runsLocal(edges.count(), localMaxEdges)) {
      val sess = t.spark
      import sess.implicits._
      val itemType = edges.schema("src").dataType
      val es = edges.select(col("src").cast("long"), col("dst").cast("long"),
        col("cost").cast("long")).as[(Long, Long, Long)].collect()
      items.unpersist()
      edges.unpersist()
      val adj = es.groupBy(_._1).view
        .mapValues(_.map(e => (e._2, e._3))).toMap
      val dist = scala.collection.mutable.LongMap.empty[Long]
      var frontier = adj.keysIterator.filter(_ % 17 == 0).toArray
      frontier.foreach(dist.update(_, 0L))
      var r = 0
      while (r < rounds && frontier.nonEmpty) {
        val improved = scala.collection.mutable.LongMap.empty[Long]
        frontier.foreach { s =>
          val d0 = dist(s)
          adj.getOrElse(s, Array.empty[(Long, Long)]).foreach { case (n, c) =>
            val nd = d0 + c
            if (nd <= budget && nd < dist.getOrElse(n, Long.MaxValue) &&
                nd < improved.getOrElse(n, Long.MaxValue))
              improved.update(n, nd)
          }
        }
        improved.foreach { case (n, nd) => dist.update(n, nd) }
        frontier = improved.keysIterator.toArray
        r += 1
      }
      return localPathsDF(sess, itemType, dist.toSeq)
    }
    // seeds enter with a NULL `old`, so the first frontier is every seed
    val seeds = edges.select(col("src").as("item")).distinct()
      .filter(col("item") % 17 === 0)
      .select(col("item"), lit(0L).as("dist"), lit(null).cast("long").as("old"))
    val walk = Rounds.run(seeds, rounds) { round =>
      // ONE min-agg carries both readouts: candidates enter with a
      // NULL `old`, settled rows with old = their current dist, so
      // min(dist) is the merged distance and min(old) (null-skipping)
      // recovers the pre-round distance — the improved-frontier test
      // is a map-side filter over the previous round's cut instead
      // of a second agg + join + second cut per round
      val frontier = round.prev.filter(col("old").isNull || col("dist") < col("old"))
      val cand = frontier.as("f").join(edges.as("e"), col("f.item") === col("e.src"))
        .select(col("dst").as("item"), (col("dist") + col("cost")).as("dist"),
          lit(null).cast("long").as("old"))
        .filter(col("dist") <= budget)
      round.prev.select(col("item"), col("dist"), col("dist").as("old"))
        .unionAll(cand)
        .groupBy(col("item"))
        .agg(min(col("dist")).as("dist"), min(col("old")).as("old"))
    }
    items.unpersist()
    edges.unpersist()
    walk.last.select(col("item"), col("dist")).orderBy(col("item"))
  }

  /** Driver-local walk results → a DataFrame carrying the distributed
    * branch's exact schema (native item type, nullable fields),
    * ordered by item — so the two branches are indistinguishable to
    * any consumer (pinned by the adaptive-local-walk specs). */
  private[graft] def localPathsDF(spark: org.apache.spark.sql.SparkSession,
      itemType: org.apache.spark.sql.types.DataType,
      rows: Seq[(Long, Long)]): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{StructField, StructType}
    import scala.jdk.CollectionConverters._
    val schema = StructType(Seq(StructField("item", itemType),
      StructField("dist", LongType)))
    val toItem: Long => Any = itemType match {
      case LongType    => i => i
      case IntegerType => i => i.toInt
      case other => throw new IllegalArgumentException(
        s"localPathsDF: item type $other is not long or int — the " +
          "driver-local walk cannot build rows of it")
    }
    val data = rows.map { case (i, d) => Row(toItem(i), d) }
    spark.createDataFrame(data.asJava, schema).orderBy(col("item"))
  }

  /** `events_growth_accounting` — the weekly growth-accounting
    * decomposition (new / retained / resurrected / churned users),
    * the standard operator product-analytics engines derive MAU
    * health from: every WAU delta must be explained by
    * `new + resurrected − churned`.
    *
    * One shuffle by user builds the distinct (user, week) spine with
    * lag/lead; classification is then map-side (new = no prior week,
    * retained = active exactly 7 days ago, resurrected = returned
    * after a gap) and churn is attributed to `week+7` when the next
    * active week is more than one week away — truncated at the
    * corpus's last observed week (a one-row broadcast) so the final
    * partial week never reports phantom churn. The week-grain rollup
    * is metadata-scale; the user-partitioned windows hold at any
    * corpus size. */
  def eventsGrowthAccounting(t: Tables): DataFrame =
    growthFromActivity(t.events
      .select(col("user_id"),
        to_date(date_trunc("week", col("ts"))).as("week"))
      .distinct())

  /** The growth decomposition over a deduped (user_id, week DATE)
    * activity frame — shared by the batch operator and its streaming
    * twin (`stream_growth_accounting`, which maintains the activity
    * set as one keyed streaming aggregation and classifies the
    * drained state here). */
  def growthFromActivity(weeks: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(asc("week"))
    val spine = weeks
      .withColumn("prev_week", lag(col("week"), 1).over(w))
      .withColumn("next_week", lead(col("week"), 1).over(w))
    val active = spine.groupBy(col("week")).agg(
      sum(when(col("prev_week").isNull, 1L).otherwise(0L)).as("n_new"),
      sum(when(datediff(col("week"), col("prev_week")) === 7, 1L)
        .otherwise(0L)).as("n_retained"),
      sum(when(col("prev_week").isNotNull &&
        datediff(col("week"), col("prev_week")) > 7, 1L)
        .otherwise(0L)).as("n_resurrected"))
    val maxWeek = weeks.agg(max(col("week")).as("max_week"))
    val churned = spine
      .filter(col("next_week").isNull ||
        datediff(col("next_week"), col("week")) > 7)
      .withColumn("churn_week", date_add(col("week"), 7))
      .crossJoin(broadcast(maxWeek))
      .filter(col("churn_week") <= col("max_week"))
      .groupBy(col("churn_week").as("week"))
      .agg(count(lit(1)).as("n_churned"))
    active.join(churned, Seq("week"), "full")
      .na.fill(0L, Seq("n_new", "n_retained", "n_resurrected", "n_churned"))
      .select(col("week").cast("timestamp_ntz").as("week"), col("n_new"),
        col("n_retained"), col("n_resurrected"), col("n_churned"))
  }

  /** `events_wow_change` — week-over-week volume deltas per event
    * type: the reporting primitive every metrics board ships (abs
    * delta + exact integer ppm change vs the prior week), over the
    * metadata-scale (type × week) rollup with one type-partitioned
    * lag. First weeks emit NULL change (no prior), division guards on
    * prior > 0 — identical NULL semantics on both engines. */
  def eventsWowChange(t: Tables): DataFrame = {
    val weekly = t.events
      .select(col("event_type"),
        to_date(date_trunc("week", col("ts"))).as("week"))
      .groupBy(col("event_type"), col("week"))
      .agg(count(lit(1)).as("n"))
    weekly
      .withColumn("prev_n", lag(col("n"), 1).over(
        Window.partitionBy(col("event_type")).orderBy(asc("week"))))
      .withColumn("delta", col("n") - col("prev_n"))
      .withColumn("change_ppm",
        when(col("prev_n") > 0,
          expr("((n - prev_n) * 1000000) div prev_n")))
      .select(col("event_type"),
        col("week").cast("timestamp_ntz").as("week"),
        col("n"), col("prev_n"), col("delta"), col("change_ppm"))
  }

  /** `q_time_weighted_avg` — the time-weighted average value per user
    * (TWAP): each observation weighted by how LONG it was current
    * (gap to the next event), the correct average for sampled state
    * (balances, prices, gauge metrics) where the arithmetic mean
    * over-weights bursts. Integer-exact: §6 cents × gap SECONDS
    * (microsecond gaps would overflow int64 at realistic horizons —
    * documented bound: cents·Σgap_s < 2^63), one integer division at
    * the end; single-event users and zero-span users have no weighted
    * support and are excluded identically on both engines. One
    * user-partitioned window + one keyed aggregate. */
  def qTimeWeightedAvg(t: Tables): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(asc("us"), asc("event_id"))
    t.events
      .select(col("user_id"), col("event_id"), us.as("us"),
        floor(col("value") * 100 + lit(0.5)).cast("long").as("cents"))
      .withColumn("next_us", lead(col("us"), 1).over(w))
      .filter(col("next_us").isNotNull)
      .withColumn("gap_s", expr("(next_us - us) div 1000000"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_gaps"), sum(col("gap_s")).as("span_s"),
        sum(col("cents") * col("gap_s")).as("weighted"))
      .filter(col("span_s") > 0)
      .withColumn("twap_cents", expr("weighted div span_s"))
      .select(col("user_id"), col("n_gaps"), col("span_s"),
        col("twap_cents"))
  }

  /** `events_bounce_rate` — single-event sessions over total sessions
    * per day, the standard engagement-quality metric the sessionizer
    * feeds: a traffic source can grow DAU while every added visit
    * bounces. Reuses the 30-minute-gap sessionization shape (one
    * user-keyed window chain), rolls sessions to their START day, and
    * reports exact integer ppm. */
  def eventsBounceRate(t: Tables): DataFrame = {
    val order = Window.partitionBy(col("user_id"))
      .orderBy(asc("ts"), asc("event_id"))
    val run = order.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val sessions = t.events
      .withColumn("us", us)
      .withColumn("prev_us", lag(col("us"), 1).over(order))
      .withColumn("is_new",
        when(col("prev_us").isNull || col("us") - col("prev_us") > 1800000000L,
          1L).otherwise(0L))
      .withColumn("session_id", sum(col("is_new")).over(run))
      .groupBy(col("user_id"), col("session_id"))
      .agg(count(lit(1)).as("n_events"),
        to_date(min(col("ts"))).as("day"))
    sessions.groupBy(col("day"))
      .agg(count(lit(1)).as("n_sessions"),
        sum(when(col("n_events") === 1, 1L).otherwise(0L)).as("n_bounces"))
      .withColumn("bounce_ppm", expr("(n_bounces * 1000000) div n_sessions"))
      .select(col("day").cast("timestamp_ntz").as("day"), col("n_sessions"),
        col("n_bounces"), col("bounce_ppm"))
  }

  /** `events_mad_outliers` — robust outlier screening by median
    * absolute deviation: the data-quality rule z-scores get wrong on
    * heavy-tailed metrics (one whale inflates the stddev until nothing
    * is an outlier; the median and MAD barely move). Flags values with
    * |v − median| > 3·MAD per event type.
    *
    * Determinism across engines: the median and MAD quantize to 4 dp
    * (the shared percentile discipline — Spark's exact `percentile`
    * and DuckDB's `quantile_cont` interpolate identically, and the
    * rounding absorbs summation-free last-ulp drift) BEFORE the
    * outlier comparison, so both engines compare bit-identical
    * doubles. The two quantile passes reduce per-type; the medians
    * table is #types rows and broadcast back — no per-row state
    * beyond the exact percentile buffer (the approx twin of which is
    * `events_value_percentiles_approx`'s t-digest swap). */
  def eventsMadOutliers(t: Tables): DataFrame = {
    val med = t.events.groupBy(col("event_type"))
      .agg(round(percentile(col("value"), lit(0.5)) + lit(1e-9), 4)
        .as("med"))
    val dev = t.events.join(broadcast(med), Seq("event_type"))
      .withColumn("adev", abs(col("value") - col("med")))
    val mad = dev.groupBy(col("event_type"))
      .agg(round(percentile(col("adev"), lit(0.5)) + lit(1e-9), 4)
        .as("mad"))
    dev.join(broadcast(mad), Seq("event_type"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), min(col("med")).as("med"),
        min(col("mad")).as("mad"),
        sum(when(col("adev") > lit(3.0) * col("mad"), 1L).otherwise(0L))
          .as("n_outliers"))
  }

  /** `events_interval_union` — merge each user's overlapping presence
    * intervals (event ± a fixed horizon) into disjoint islands: the
    * interval-UNION primitive behind "total engaged time" and
    * overlap-free billing windows, complementing `q_interval_overlap`
    * (which JOINS intervals) and `q_sessionize` (which merges by GAP,
    * not by span arithmetic).
    *
    * Classic running-max island construction, fully keyed: within a
    * user (one shuffle), an interval starts a new island iff its
    * start exceeds the running max END of all earlier intervals —
    * `max() OVER (..., UNBOUNDED PRECEDING, -1)` — so chained
    * overlaps (a∪b∪c where a∩c = ∅) merge correctly, which the naive
    * "compare to previous row" gets wrong. All integer microseconds;
    * islands then roll up per user. */
  def eventsIntervalUnion(t: Tables, horizonUs: Long = 300000000L)
      : DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(asc("s"), asc("event_id"))
    val iv = t.events.select(col("user_id"), col("event_id"),
      us.as("s"), (us + lit(horizonUs)).as("e"))
    val islands = iv
      .withColumn("prev_max_e",
        max(col("e")).over(w.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("is_new",
        when(col("prev_max_e").isNull || col("s") > col("prev_max_e"), 1L)
          .otherwise(0L))
      .withColumn("island", sum(col("is_new")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("island"))
      .agg(min(col("s")).as("start_us"), max(col("e")).as("end_us"))
    islands.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_intervals"),
        sum(col("end_us") - col("start_us")).as("covered_us"),
        max(col("end_us") - col("start_us")).as("longest_us"))
  }

  /** `events_ols_trend` — per-type linear trend of daily event volume
    * by closed-form least squares: slope/intercept/R² of
    * count ~ days-since-first-day, the metric-drift screen behind
    * every "is this event type growing or decaying" dashboard.
    *
    * The regression runs through Spark's native `regr_slope` /
    * `regr_intercept` / `regr_r2` aggregates (codegen'd partial
    * sums — Σx, Σy, Σxy, Σx², one pass, map-side combine), NOT a
    * driver-side fit; x is centered on each type's first active day
    * via a user-partitioned window so intercepts read as "fitted
    * volume at day 0". Group cardinality = #event types; daily
    * rollup = types × days — both metadata-scale. Doubles are
    * rounded at 4 dp on both engines (the corpus_zipf discipline). */
  def eventsOlsTrend(t: Tables): DataFrame =
    olsTrendFromDaily(t.events
      .select(col("event_type"), to_date(col("ts")).as("day"))
      .groupBy(col("event_type"), col("day")).agg(count(lit(1)).as("n")))

  /** The regression readout over a (event_type, day DATE, n) rollup —
    * shared by the batch operator and its streaming twin
    * (`stream_ols_trend`, which maintains the rollup as one keyed
    * streaming aggregation and fits over the drained state). */
  def olsTrendFromDaily(daily: DataFrame): DataFrame = {
    val based = daily.withColumn("x",
      datediff(col("day"),
        min(col("day")).over(Window.partitionBy(col("event_type"))))
        .cast("double"))
      .withColumn("y", col("n").cast("double"))
    based.groupBy(col("event_type")).agg(
      count(lit(1)).as("n_days"),
      round(expr("regr_slope(y, x)") + lit(1e-9), 4).as("slope"),
      round(expr("regr_intercept(y, x)") + lit(1e-9), 4).as("intercept"),
      round(expr("regr_r2(y, x)") + lit(1e-9), 4).as("r2"))
  }

  /** `events_ks_test` — the two-sample Kolmogorov–Smirnov distance
    * between the purchase and view value distributions: the standard
    * nonparametric "did the metric distribution shift" test behind
    * experiment guardrails and drift monitors (mean-based screens
    * miss shape changes; KS is the max CDF gap).
    *
    * Scale decomposition: the naive form sorts BOTH samples globally.
    * Here values reduce to exact cents, ONE keyed rollup counts each
    * (cents, group), and the CDFs are prefix sums over the DISTINCT
    * value grid — a window over metadata-scale rows (the value
    * domain, not the event count; the T13 two-level split is the
    * recipe if even the grid outgrew a partition).
    *
    * Determinism: D is computed in ppm as
    * `|cum_a·10⁶ div n_a − cum_b·10⁶ div n_b|` — truncating integer
    * division on exact integers, identical on both engines (§6); the
    * argmax location ties break toward the smallest cents value. */
  def eventsKsTest(t: Tables): DataFrame =
    ksFromCounts(t.events
      .filter(col("event_type").isin("purchase", "view"))
      .select(col("event_type"),
        floor(col("value") * 100 + lit(0.5)).cast("long").as("cents"))
      .groupBy(col("cents"))
      .agg(sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("na"),
        sum(when(col("event_type") === "view", 1L).otherwise(0L)).as("nb")))

  /** The KS readout over a (cents, na, nb) grid rollup — shared by
    * the batch operator and its streaming twin (`stream_ks_test`,
    * which maintains the grid as one keyed streaming aggregation). */
  def ksFromCounts(grid: DataFrame): DataFrame = {
    val w = Window.orderBy(asc("cents"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = grid.agg(sum(col("na")).as("n_a"), sum(col("nb")).as("n_b"))
    grid
      .withColumn("ca", sum(col("na")).over(w))
      .withColumn("cb", sum(col("nb")).over(w))
      .crossJoin(broadcast(tot))
      .withColumn("d_ppm",
        abs(expr("(ca * 1000000) div n_a") - expr("(cb * 1000000) div n_b")))
      .orderBy(desc("d_ppm"), asc("cents"))
      .limit(1)
      .select(col("n_a"), col("n_b"), col("d_ppm"),
        col("cents").as("at_cents"))
  }

  /** `events_type_entropy` — per-user Shannon entropy of the
    * event-type distribution: the behavioral-diversity feature
    * (near-zero entropy = single-action accounts, scripted traffic;
    * the profile-level complement to the sequence-level
    * [[eventsMarkovEntropyRate]]). H = ln N − (Σ c·ln c)/N from ONE
    * (user, type) keyed count + one user-keyed fold — two map-side-
    * combinable aggregations, no window, no state beyond users×types.
    * 4-dp rounding with the +1e-9 nudge (§6, the corpus_zipf
    * discipline) makes the ≤ types-many-term float sum cross-engine
    * stable. */
  def eventsTypeEntropy(t: Tables): DataFrame =
    entropyFromCounts(t.events.groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("c")))

  /** The entropy readout over a (user_id, event_type, c) rollup —
    * shared by the batch operator and its streaming twin
    * (`stream_type_entropy`, which maintains the rollup as one keyed
    * streaming aggregation whose state is the distinct key set). */
  def entropyFromCounts(counts: DataFrame): DataFrame =
    counts.groupBy(col("user_id"))
      .agg(sum(col("c")).as("n_events"),
        count(lit(1)).as("n_types"),
        sum(col("c").cast("double") * log(col("c").cast("double"))).as("s"))
      .select(col("user_id"), col("n_events"), col("n_types"),
        round(log(col("n_events").cast("double")) -
          col("s") / col("n_events").cast("double") + lit(1e-9), 4)
          .as("entropy_nats"))

  /** `events_winsorized_mean` — the winsorized per-type mean: clamp
    * values at the p05/p95 ORDER STATISTICS before averaging — the
    * robust central-tendency readout that survives the fat tails and
    * fliers a plain mean drowns in (and the standard pre-aggregation
    * step for metrics fed to anomaly detection).
    *
    * Everything INTEGER-EXACT, no interpolated percentile ever
    * compared: on the exact-cents value grid (one keyed rollup —
    * never a sort of fact rows), the p-th order statistic is the
    * smallest value whose cumulative count reaches ceil(p·n) (a
    * metadata-scale window per type), the clamp happens ON THE GRID
    * (Σ cnt·clamp(v) — no second fact pass), and the mean is an
    * integer division to milli-cents. Both engines run literally the
    * same integer arithmetic. */
  def eventsWinsorizedMean(t: Tables): DataFrame =
    winsorizedFromGrid(t.events
      .select(col("event_type"),
        floor(col("value") * 100 + lit(0.5)).cast("long").as("cents"))
      .groupBy(col("event_type"), col("cents"))
      .agg(count(lit(1)).as("cnt")))

  /** The winsorized readout over a (event_type, cents, cnt) grid —
    * shared by the batch operator and its streaming twin
    * (`stream_winsorized_mean`, which maintains the grid as one keyed
    * streaming aggregation — the same value-domain state as the KS
    * twin). */
  def winsorizedFromGrid(grid: DataFrame): DataFrame = {
    val byType = Window.partitionBy(col("event_type"))
    val w = byType.orderBy(asc("cents"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // bounds as WINDOW aggregates over the same type partition — no
    // self-join of the grid (one partition pass carries cum, n, and
    // both order statistics; also keeps the streaming twin's
    // memory-sink view free of self-join reference conflicts)
    grid.withColumn("cum", sum(col("cnt")).over(w))
      .withColumn("n", sum(col("cnt")).over(byType))
      .withColumn("p05_cents",
        min(when(col("cum") * 100 >= col("n") * 5, col("cents")))
          .over(byType))
      .withColumn("p95_cents",
        min(when(col("cum") * 100 >= col("n") * 95, col("cents")))
          .over(byType))
      .withColumn("clamped",
        least(greatest(col("cents"), col("p05_cents")), col("p95_cents")))
      .groupBy(col("event_type"))
      .agg(max(col("n")).as("n"),
        max(col("p05_cents")).as("p05_cents"),
        max(col("p95_cents")).as("p95_cents"),
        expr("(sum(clamped * cnt) * 1000) div max(n)")
          .as("win_mean_millicents"))
      .orderBy(col("event_type"))
  }

  /** `events_peak_concurrency` — the maximum number of SIMULTANEOUSLY
    * active users per day, from the classic endpoint sweep: each
    * user-day contributes a CLOSED activity interval [first event,
    * last event]; +1/−1 endpoints roll up by (day, instant) and one
    * ordered pass carries the running count — the capacity-planning
    * readout (peak concurrent load and when it happened) behind
    * sizing decisions.
    *
    * Determinism at shared instants: all starts at an instant apply
    * BEFORE any ends (a user whose interval closes at t is still
    * concurrent with one opening at t — closed intervals), expressed
    * arithmetically as peak(t) = cum(<t) + starts(t), so both engines
    * compute identical integers; the earliest instant achieving the
    * peak reports. Scale: endpoints group to DISTINCT (day, instant)
    * rows before any window — the ordered pass runs over the endpoint
    * GRID, day-partitioned (≤ 2·user-days rows; the T13 two-level
    * prefix split is the recipe if a single day's grid outgrew a
    * partition). */
  def eventsPeakConcurrency(t: Tables): DataFrame =
    peakFromIntervals(t.events
      .select(to_date(col("ts")).as("day"), col("user_id"),
        unix_micros(col("ts").cast("timestamp")).as("us"))
      .groupBy(col("day"), col("user_id"))
      .agg(min(col("us")).as("s"), max(col("us")).as("e")))

  /** The sweep readout over (day, user_id, s, e) intervals — shared by
    * the batch operator and its streaming twin (`stream_peak_concurrency`,
    * which maintains the per-user-day interval bounds as one keyed
    * streaming aggregation). */
  def peakFromIntervals(iv: DataFrame): DataFrame = {
    val endpoints = iv.select(col("day"), col("s").as("ts"),
        lit(1L).as("st"), lit(0L).as("en"))
      .unionByName(iv.select(col("day"), col("e").as("ts"),
        lit(0L).as("st"), lit(1L).as("en")))
      .groupBy(col("day"), col("ts"))
      .agg(sum(col("st")).as("st"), sum(col("en")).as("en"))
    val before = Window.partitionBy(col("day")).orderBy(asc("ts"))
      .rowsBetween(Window.unboundedPreceding, -1)
    endpoints
      .withColumn("cum_before",
        coalesce(sum(col("st") - col("en")).over(before), lit(0L)))
      .withColumn("conc", col("cum_before") + col("st"))
      .withColumn("day_peak",
        max(col("conc")).over(Window.partitionBy(col("day"))))
      .groupBy(col("day"))
      .agg(max(col("conc")).as("peak"),
        min(when(col("conc") === col("day_peak"), col("ts"))).as("at_us"))
      .select(col("day").cast("timestamp_ntz").as("day"),
        col("peak"), col("at_us"))
      .orderBy(col("day"))
  }

  /** `events_rate_ci` — per-type user-reach rate with a WILSON 95 %
    * interval: the binomial CI that stays honest at extreme rates and
    * small n (the Wald interval's failure mode), the readout every
    * feature-adoption / reach dashboard needs next to the point
    * estimate. p̂ = users-with-type / all-users; Wilson bounds
    * (p̂ + z²/2n ± z·√(p̂(1−p̂)/n + z²/4n²)) / (1 + z²/n) at fixed
    * z = 1.96. Determinism: p̂ enters as an exact integer ratio, the
    * one sqrt is IEEE-correctly-rounded on every engine (§6, the
    * temperature-sampling argument), and the bounds round to 6 dp.
    * Two keyed distinct-rollups + a one-row broadcast. */
  def eventsRateCi(t: Tables): DataFrame =
    rateCiFromPairs(t.events.select(col("event_type"), col("user_id"))
      .distinct())

  /** The Wilson readout over a distinct (event_type, user_id [, ...])
    * key set — shared by the batch operator and its streaming twin
    * (`stream_rate_ci`, which maintains the key set as one keyed
    * streaming aggregation). */
  def rateCiFromPairs(pairs: DataFrame): DataFrame = {
    val users = pairs.select(col("user_id")).distinct()
      .agg(count(lit(1)).as("n"))
    val reach = pairs.select(col("event_type"), col("user_id"))
      .distinct()
      .groupBy(col("event_type")).agg(count(lit(1)).as("k"))
    // z² as the PARSED literal 3.8416, not 1.96*1.96 computed — the
    // product differs from the parsed constant in the last ulp, and
    // both engines must start from bit-identical operands (§6)
    val z2 = 3.8416
    reach.crossJoin(broadcast(users))
      .withColumn("p", col("k").cast("double") / col("n").cast("double"))
      .withColumn("center",
        (col("p") + lit(z2) / (lit(2.0) * col("n"))) /
          (lit(1.0) + lit(z2) / col("n")))
      .withColumn("half",
        lit(1.96) * sqrt(col("p") * (lit(1.0) - col("p")) / col("n") +
          lit(z2) / (lit(4.0) * col("n") * col("n"))) /
          (lit(1.0) + lit(z2) / col("n")))
      .select(col("event_type"), col("k").as("n_users_reached"),
        col("n").as("n_users"),
        round(col("p") + lit(1e-9), 6).as("rate"),
        round(col("center") - col("half") + lit(1e-9), 6).as("ci_lo"),
        round(col("center") + col("half") + lit(1e-9), 6).as("ci_hi"))
      .orderBy(col("event_type"))
  }

  /** `events_powerlaw_alpha` — the Hill maximum-likelihood exponent
    * of the per-user activity distribution's tail:
    * α = 1 + n / Σ ln(xᵢ/xmin) over users with xᵢ ≥ xmin — the
    * standard "how heavy is the heavy tail" estimate (Clauset et al.
    * 2009) that sizes skew mitigation: α near 2 means the top user
    * dominates any per-user shuffle and salting is mandatory, α > 3
    * means the tail is benign. One keyed count + one map-side fold;
    * the output is a single row. 4-dp ln-sum rounding per §6. */
  def eventsPowerlawAlpha(t: Tables, xmin: Long = 5L): DataFrame = {
    val perUser = t.events.groupBy(col("user_id"))
      .agg(count(lit(1)).as("x"))
    val tail = perUser.filter(col("x") >= xmin)
    perUser.agg(count(lit(1)).as("n_users")).crossJoin(broadcast(
      tail.agg(count(lit(1)).as("n_tail"),
        sum(log(col("x").cast("double") / lit(xmin.toDouble)))
          .as("s"))))
      .select(col("n_users"), col("n_tail"), lit(xmin).as("xmin"),
        round(lit(1.0) + col("n_tail").cast("double") / col("s") +
          lit(1e-9), 4).as("alpha"))
  }

  /** `events_mann_whitney` — the Mann–Whitney/Wilcoxon rank-sum U
    * between the purchase and view value distributions: the
    * location-shift companion to [[eventsKsTest]]'s shape test (the
    * robust "is one variant's metric stochastically larger" check
    * that survives the heavy tails that break the t-test).
    *
    * Same grid decomposition — no global rank window over fact rows:
    * from per-value counts (a_v, t_v) and the cumulative total below
    * v, group A's tie-averaged rank sum DOUBLED is
    * Σ a_v · (2·C_{<v} + t_v + 1) — exact integers throughout (the
    * ×2 absorbs the .5 tie-average), so U is carried as 2U and the
    * rank-biserial effect size as an exact integer cross-multiplied
    * ppm. One rollup + one metadata-scale window. */
  def eventsMannWhitney(t: Tables): DataFrame = {
    val grid = t.events
      .filter(col("event_type").isin("purchase", "view"))
      .select(col("event_type"),
        floor(col("value") * 100 + lit(0.5)).cast("long").as("cents"))
      .groupBy(col("cents"))
      .agg(sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("na"),
        sum(when(col("event_type") === "view", 1L).otherwise(0L)).as("nb"))
      .withColumn("tv", col("na") + col("nb"))
    val below = Window.orderBy(asc("cents"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val tot = grid.agg(sum(col("na")).as("n_a"), sum(col("nb")).as("n_b"))
    grid
      .withColumn("cbelow", coalesce(sum(col("tv")).over(below), lit(0L)))
      .crossJoin(broadcast(tot))
      .agg(max(col("n_a")).as("n_a"), max(col("n_b")).as("n_b"),
        sum(col("na") * (lit(2) * col("cbelow") + col("tv") + lit(1)))
          .as("r2a"))
      // 2U = 2R_a − n_a(n_a+1); rank-biserial r = 2U/(n_a n_b) − 1,
      // in ppm via exact integer cross-multiplication
      .withColumn("u2", col("r2a") - col("n_a") * (col("n_a") + lit(1)))
      .withColumn("rb_ppm",
        expr("(u2 * 1000000) div (n_a * n_b)") - lit(1000000L))
      .select(col("n_a"), col("n_b"), col("u2"), col("rb_ppm"))
  }

  /** `events_welch_ttest` — Welch's unequal-variance t-test on the
    * continuous per-user spend metric between the md5 A/B split:
    * [[eventsAbTest]] z-tests the conversion PROPORTION; this tests
    * the metric MEAN, the other half of every experiment readout (and
    * the one that needs Welch, because variant value variances are
    * never equal in practice). The metric enters as EXACT integer
    * cents moments per variant — n, Σx, Σx² from one keyed user
    * rollup, never a sort of fact rows — and the t statistic and
    * Welch–Satterthwaite df are a FIXED double expression tree over
    * those integers (identical operand order in the oracle — the §6
    * determinism argument; one correctly-rounded sqrt), rounded at
    * 4 dp. Scale: user rollup shuffle + a 1-row fold. Σx² of per-user
    * cents totals stays well inside long range to ~1e9 users. */
  def eventsWelchTtest(t: Tables): DataFrame =
    welchFromUserCents(userCentsTotals(t.events))

  /** The Welch readout over final per-user totals (user_id, x) —
    * shared by the batch operator and `stream_welch_ttest`
    * (equivalence pair #41), which maintains the totals as one keyed
    * streaming aggregation. nullif guards keep degenerate slices
    * (empty variant, single user) NULL instead of an ANSI error. */
  def welchFromUserCents(userX: DataFrame): DataFrame = {
    val m = userX
      .withColumn("variant",
        when(substring(md5(col("user_id").cast("string")), 1, 1) < "8", "A")
          .otherwise("B"))
      .agg(
        sum(when(col("variant") === "A", 1L).otherwise(0L)).as("n_a"),
        sum(when(col("variant") === "A", col("x")).otherwise(0L)).as("sx_a"),
        sum(when(col("variant") === "A", col("x") * col("x"))
          .otherwise(0L)).as("sxx_a"),
        sum(when(col("variant") === "B", 1L).otherwise(0L)).as("n_b"),
        sum(when(col("variant") === "B", col("x")).otherwise(0L)).as("sx_b"),
        sum(when(col("variant") === "B", col("x") * col("x"))
          .otherwise(0L)).as("sxx_b"))
    val meanA = col("sx_a").cast("double") / nullif(col("n_a"), lit(0L))
    val meanB = col("sx_b").cast("double") / nullif(col("n_b"), lit(0L))
    val varA = (col("sxx_a").cast("double") -
      col("sx_a").cast("double") * col("mean_a_raw")) /
      nullif(col("n_a") - lit(1L), lit(0L))
    val varB = (col("sxx_b").cast("double") -
      col("sx_b").cast("double") * col("mean_b_raw")) /
      nullif(col("n_b") - lit(1L), lit(0L))
    m.withColumn("mean_a_raw", meanA)
      .withColumn("mean_b_raw", meanB)
      .withColumn("qa", varA / col("n_a"))
      .withColumn("qb", varB / col("n_b"))
      .select(col("n_a"), col("n_b"),
        round(col("mean_a_raw") + lit(1e-9), 4).as("mean_a"),
        round(col("mean_b_raw") + lit(1e-9), 4).as("mean_b"),
        round((col("mean_b_raw") - col("mean_a_raw")) /
          nullif(sqrt(col("qa") + col("qb")), lit(0.0)) + lit(1e-9), 4)
          .as("t_stat"),
        round((col("qa") + col("qb")) * (col("qa") + col("qb")) /
          nullif(col("qa") * col("qa") / (col("n_a") - lit(1L)) +
            col("qb") * col("qb") / (col("n_b") - lit(1L)), lit(0.0)) +
          lit(1e-9), 2).as("df"))
  }

  /** `events_chisq` — the chi-square INDEPENDENCE test over the
    * event_type × variant contingency table (is traffic composition
    * the same in both arms — the categorical companion to
    * [[eventsSrm]]'s two-cell ratio check). Cell counts are exact
    * integers from one keyed rollup; expected counts and per-cell
    * contributions are fixed per-row double trees over those
    * integers; the TOTAL statistic is summed in ×10⁴ INTEGER units so
    * it is order-independent (a double window sum would drift with
    * partitioning — §6). The windows run over the ≤ #types aggregate
    * rows, never fact rows. */
  def eventsChisq(t: Tables): DataFrame =
    chisqFromCounts(t.events
      .withColumn("variant",
        when(substring(md5(col("user_id").cast("string")), 1, 1) < "8", "A")
          .otherwise("B"))
      .groupBy(col("event_type"), col("variant"))
      .agg(count(lit(1)).as("c")))

  /** The chi-square readout over final (event_type, variant, c) cell
    * counts — shared by the batch operator and `stream_chisq`
    * (equivalence pair #42), which maintains the counts as one keyed
    * streaming aggregation. */
  def chisqFromCounts(counts: DataFrame): DataFrame = {
    val all = Window.partitionBy(lit(1))
    val cells = counts
      .groupBy(col("event_type"))
      .agg(sum(when(col("variant") === "A", col("c")).otherwise(0L))
          .as("n_a"),
        sum(when(col("variant") === "B", col("c")).otherwise(0L)).as("n_b"))
    val eA = ((col("n_a") + col("n_b")) * col("tot_a")).cast("double") /
      (col("tot_a") + col("tot_b"))
    val eB = ((col("n_a") + col("n_b")) * col("tot_b")).cast("double") /
      (col("tot_a") + col("tot_b"))
    cells
      .withColumn("tot_a", sum(col("n_a")).over(all))
      .withColumn("tot_b", sum(col("n_b")).over(all))
      .withColumn("k", count(lit(1)).over(all))
      .withColumn("e_a", eA)
      .withColumn("e_b", eB)
      // nullif guards the degenerate zero-exposure arm (tot_a=0 →
      // e_a=0): without it the cell term is 0/0=NaN, which Spark
      // (ANSI off) casts to 0L while DuckDB errors on
      // CAST(NaN AS BIGINT) — the engines must agree the slice is
      // NULL, not diverge between a silent 0 and a loud error
      .withColumn("chi_x10k",
        floor(((col("n_a") - col("e_a")) * (col("n_a") - col("e_a")) /
          nullif(col("e_a"), lit(0.0)) +
          (col("n_b") - col("e_b")) * (col("n_b") - col("e_b")) /
            nullif(col("e_b"), lit(0.0))) * lit(10000.0) + lit(0.5))
          .cast("long"))
      .withColumn("chi2_x10k", sum(col("chi_x10k")).over(all))
      .select(col("event_type"), col("n_a"), col("n_b"),
        round(col("e_a") + lit(1e-9), 4).as("exp_a"),
        col("chi_x10k"), col("chi2_x10k"),
        (col("k") - lit(1L)).as("df"))
      .orderBy(col("event_type"))
  }

  /** `events_theilsen` — the Theil–Sen ROBUST trend slope per event
    * type: the median of all pairwise slopes over the daily-count
    * series, the estimator that shrugs off the outlier days that drag
    * [[eventsOlsTrend]]'s least-squares line around (up to ~29%
    * contamination). Slopes are integer ppm/day via truncating
    * integer division — both engines truncate toward zero — and the
    * median is the LOWER median (the rank-⌈m/2⌉ order statistic), so
    * every value is exact. Scale: the pair join runs over the
    * AGGREGATED (type, day) series — ≤ days² pairs per type, a
    * metadata-scale domain — never over fact rows; the T13 two-level
    * split is the recipe if a series ever outgrew a partition. */
  def eventsTheilSen(t: Tables): DataFrame =
    theilSenFromDaily(t.events
      .groupBy(col("event_type"),
        datediff(to_date(col("ts")),
          lit(java.sql.Date.valueOf("2024-01-01"))).cast("long").as("d"))
      .agg(count(lit(1)).as("c")))

  /** The Theil–Sen readout over a final (event_type, d, c) daily
    * series — shared by the batch operator and `stream_theilsen`
    * (equivalence pair #43), which maintains the series as one keyed
    * streaming aggregation. */
  def theilSenFromDaily(daily: DataFrame): DataFrame = {
    val nDays = daily.select(col("event_type").as("et3"))
      .groupBy(col("et3")).agg(count(lit(1)).as("n_days"))
    // renamed right side (not .as aliases): a drained-table relation
    // self-joined under two aliases trips Spark's ambiguous-self-join
    // resolution; distinct column names never can
    val later = daily.select(col("event_type").as("et2"),
      col("d").as("d2"), col("c").as("c2"))
    val pairs = daily.join(later,
        col("event_type") === col("et2") && col("d") < col("d2"))
      .select(col("event_type"),
        ((col("c2") - col("c")) * lit(1000000L)).as("num"),
        (col("d2") - col("d")).as("den"))
      .withColumn("slope_ppm", expr("num div den"))
    val byType = Window.partitionBy(col("event_type"))
    pairs
      .withColumn("rn", row_number().over(byType.orderBy(asc("slope_ppm"))))
      .withColumn("m", count(lit(1)).over(byType))
      .filter(col("rn").cast("long") === expr("(m + 1) div 2"))
      .join(nDays, col("event_type") === col("et3"))
      .select(col("event_type"), col("n_days"), col("m").as("n_pairs"),
        col("slope_ppm"))
      .orderBy(col("event_type"))
  }

  /** `events_bootstrap_ci` — a 95 % bootstrap interval on the mean
    * per-user spend, via the POISSON bootstrap: instead of resampling
    * rows (a shuffle per replicate — unrunnable at scale), every user
    * gets an independent Poisson(1) weight per replicate, which
    * approximates multinomial resampling exactly as n grows (the
    * streaming/map-reduce bootstrap in the literature). Weights are
    * DETERMINISTIC: a 20-bit md5 slice of (user, replicate) compared
    * against the Poisson(1) CDF scaled to 2²⁰ as exact INTEGER
    * thresholds — both engines compute identical weights, so the 200
    * replicate means are exact integers (millicents, truncating DIV)
    * and the CI bounds are order statistics (ranks 5 and 196 — 2.5 %
    * either side), not approximations. Scale: the users × 200 grid
    * partially aggregates map-side to 200 keys per task — the shuffle
    * carries ~200 rows per partition, never the grid. */
  def eventsBootstrapCi(t: Tables, reps: Int = 200): DataFrame =
    bootstrapFromUserTotals(userCentsTotals(t.events), reps)

  /** Per-user exact cents totals — THE sufficient statistic the
    * Welch and bootstrap pairs (#41/#44) share; defined once so the
    * batch/stream twins can never drift on the rounding. Works on
    * batch and streaming frames alike (pure transformations). */
  def userCentsTotals(events: DataFrame): DataFrame =
    events.select(col("user_id"),
        floor(col("value") * 100 + lit(0.5)).cast("long").as("cents"))
      .groupBy(col("user_id")).agg(sum(col("cents")).as("x"))

  /** The bootstrap readout over final per-user totals (user_id, x) —
    * shared by the batch operator and `stream_bootstrap_ci`
    * (equivalence pair #44), which maintains the totals as one keyed
    * streaming aggregation. */
  def bootstrapFromUserTotals(perUser: DataFrame, reps: Int = 200)
      : DataFrame = {
    val u = conv(substring(md5(concat_ws(":", col("user_id"), col("b"))),
      1, 5), 16, 10).cast("long")
    // Poisson(1) CDF at k=0..5, scaled by 2^20 and floored — the
    // exact integer thresholds both engines compare against
    val w = when(u < 385749L, 0L).when(u < 771499L, 1L)
      .when(u < 964373L, 2L).when(u < 1028665L, 3L)
      .when(u < 1044738L, 4L).when(u < 1047952L, 5L).otherwise(6L)
    val means = perUser
      .select(col("user_id"), col("x"),
        explode(sequence(lit(0), lit(reps - 1))).as("b"))
      .withColumn("w", w)
      .groupBy(col("b"))
      .agg(sum(col("w")).as("ne"), sum(col("w") * col("x")).as("s"))
      .select(col("b"), expr("(s * 1000) div nullif(ne, 0)").as("m"))
      .filter(col("m").isNotNull) // NULL ordering differs per engine
    val ranked = means.withColumn("rn",
      row_number().over(Window.orderBy(asc("m"), asc("b"))))
    // 95 % bounds as order statistics: rank ⌈0.025·reps⌉ either side
    // (5 and 196 at the default reps = 200, which is what the oracle
    // hard-codes — a different reps keeps the coverage, not the gate)
    val loRank = math.max(1, math.ceil(reps * 0.025).toInt)
    val lo = ranked.filter(col("rn") === loRank)
      .select(col("m").as("lo_mcents"))
    val hi = ranked.filter(col("rn") === (reps - loRank + 1))
      .select(col("m").as("hi_mcents"))
    perUser.agg(count(lit(1)).as("n_users"),
        expr("(sum(x) * 1000) div count(1)").as("mean_mcents"))
      .crossJoin(broadcast(lo)).crossJoin(broadcast(hi))
      .select(col("n_users"), lit(reps.toLong).as("n_reps"),
        col("mean_mcents"), col("lo_mcents"), col("hi_mcents"))
  }

  /** `events_sequential_ab` — the SEQUENTIAL experiment monitor: the
    * cumulative two-proportion z replayed at every day boundary with
    * a fixed O'Brien–Fleming-style guard band (|z| ≥ 2.797 — wider
    * than the fixed-horizon 1.96 exactly because the statistic is
    * examined repeatedly; the peeking problem [[eventsAbTest]]'s
    * one-shot readout cannot see). Panel semantics: a user counts as
    * exposed each ACTIVE day and converted on days with a qualifying
    * purchase — the daily-cohort monitoring view. All counts are
    * exact integers; the z tree mirrors the ab_test oracle's operand
    * order; the cumulative window runs over the per-day aggregate
    * rows (≤ days — metadata scale), never fact rows. */
  def eventsSequentialAb(t: Tables): DataFrame =
    seqAbFromPanel(t.events
      .withColumn("day", to_date(col("ts")))
      .groupBy(col("user_id"), col("day"))
      .agg(max(when(col("event_type") === "purchase" && col("value") > 180,
        1L).otherwise(0L)).as("conv")))

  /** The sequential readout over a final (user_id, day, conv) panel —
    * shared by the batch operator and `stream_sequential_ab`
    * (equivalence pair #45), which maintains the panel as one keyed
    * streaming aggregation (the natural home for a monitor that is
    * BY DEFINITION consulted continuously). */
  def seqAbFromPanel(rawPanel: DataFrame): DataFrame = {
    val panel = rawPanel
      .withColumn("variant",
        when(substring(md5(col("user_id").cast("string")), 1, 1) < "8", "A")
          .otherwise("B"))
    val daily = panel.groupBy(col("day"))
      .agg(sum(when(col("variant") === "A", 1L).otherwise(0L)).as("ea"),
        sum(when(col("variant") === "A", col("conv")).otherwise(0L)).as("ca"),
        sum(when(col("variant") === "B", 1L).otherwise(0L)).as("eb"),
        sum(when(col("variant") === "B", col("conv")).otherwise(0L)).as("cb"))
    val cum = Window.orderBy(asc("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val c = daily
      .withColumn("n_a", sum(col("ea")).over(cum))
      .withColumn("conv_a", sum(col("ca")).over(cum))
      .withColumn("n_b", sum(col("eb")).over(cum))
      .withColumn("conv_b", sum(col("cb")).over(cum))
    val pA = col("conv_a") / nullif(col("n_a"), lit(0L)).cast("double")
    val pB = col("conv_b") / nullif(col("n_b"), lit(0L)).cast("double")
    val pPool = (col("conv_a") + col("conv_b")) /
      nullif(col("n_a") + col("n_b"), lit(0L)).cast("double")
    val se = nullif(sqrt(pPool * (lit(1.0) - pPool) *
      (lit(1.0) / nullif(col("n_a"), lit(0L)).cast("double") +
        lit(1.0) / nullif(col("n_b"), lit(0L)).cast("double"))), lit(0.0))
    c.withColumn("z_raw", (pB - pA) / se)
      .select(col("day").cast("timestamp_ntz").as("day"),
        col("n_a"), col("conv_a"), col("n_b"), col("conv_b"),
        round(col("z_raw") + lit(1e-9), 4).as("z"),
        coalesce(abs(col("z_raw")) >= lit(2.797), lit(false)).as("crossed"))
      .orderBy(col("day"))
  }
}
