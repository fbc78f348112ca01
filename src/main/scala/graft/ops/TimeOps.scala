package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Time/ordering operators: format rendering, the reference's 3-way
  * timestamp-format dispatch exercised as a registered query, windowed
  * event aggregation, sessionization,
  * and an as-of join — all declarative, no UDFs.
  */
object TimeOps {

  private val IsoFmt = "yyyy-MM-dd'T'HH:mm:ss.SSS'Z'"

  /** F15: render timestamps as ISO-8601 strings (UTC session). */
  def dateFormatIso(orders: DataFrame): DataFrame =
    orders
      .select(
        col("o_orderkey"),
        date_format(col("o_orderdate"), IsoFmt).as("ts_iso"))
      .orderBy("o_orderkey")

  /** F11-F14 (generalized): the reference's regex-dispatch timestamp
    * normalization (reference: etl_pipeline.py:299-315) driven against the
    * events table. Step 1 *renders* each event time into one of three wire
    * formats chosen by `event_id % 3` (ISO-millis / epoch-seconds /
    * unpadded US); step 2 re-parses via the byte-identical 3-regex dispatch
    * with try-semantics. Output is the recovered instant as ISO text —
    * identical to the input instant truncated to the written precision.
    */
  def timestampDispatch(events: DataFrame): DataFrame = {
    val m = col("event_id") % 3
    val wire = when(m === 0, date_format(col("ts"), IsoFmt))
      .when(m === 1, floor(unix_timestamp(col("ts"))).cast("string"))
      .otherwise(date_format(col("ts"), "M/d/yyyy H:mm:ss"))
    val parsed =
      when(wire.rlike("^\\d{4}-\\d{2}-\\d{2}T"), try_to_timestamp(wire, lit(IsoFmt)))
        .when(wire.rlike("^\\d{10}$"), timestamp_seconds(wire.try_cast("long")))
        .when(wire.rlike("^\\d{1,2}/\\d{1,2}/\\d{4} \\d{1,2}:\\d{2}:\\d{2}"),
          try_to_timestamp(wire, lit("M/d/yyyy H:mm:ss")))
        .otherwise(try_to_timestamp(wire))
    events
      .select(
        col("event_id"),
        wire.as("wire_format"),
        date_format(parsed, IsoFmt).as("recovered_iso"))
      .orderBy("event_id")
  }

  /** Tumbling 1-hour windows per event type (`q_events_hourly`). */
  def hourlyEventAgg(events: DataFrame): DataFrame =
    events
      .groupBy(
        date_trunc("hour", col("ts")).as("hr"),
        col("event_type"))
      .agg(
        count(lit(1)).as("cnt"),
        round(sum("value"), 2).as("sum_val"))
      .select(date_format(col("hr"), IsoFmt).as("hr_iso"), col("event_type"), col("cnt"), col("sum_val"))
      .orderBy("hr_iso", "event_type")

  /** Sessionization: a new session starts after a >30min silence per user.
    * One shuffle on user_id, then two windows over the same partitioning
    * (Catalyst reuses the exchange). The classic gaps-and-islands pattern —
    * scales as wide as user cardinality.
    */
  def sessionize(events: DataFrame, gapSeconds: Long = 1800L): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    events
      .withColumn("prev_ts", lag("ts", 1).over(byUser))
      .withColumn(
        "new_session",
        (col("prev_ts").isNull ||
          (unix_timestamp(col("ts")) - unix_timestamp(col("prev_ts")) > gapSeconds)).cast("int"))
      .withColumn("session_seq", sum("new_session").over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(col("user_id"), col("event_id"), col("session_seq"))
      .orderBy("user_id", "event_id")
  }

  /** Session path analysis: each session's ordered event-type journey,
    * truncated to its first `pathLen` events, counted across sessions —
    * "what are the most common entry journeys". Builds on [[sessionize]]'s
    * gap-split assignment: one window shuffle on user_id covers BOTH the
    * session split and the in-session rank (same partition key, Catalyst
    * reuses the exchange), then the path forms per session via
    * sort_array(collect_list(struct(rank, type))) — deterministic order
    * without trusting collect_list — and one path-cardinality aggregate
    * counts journeys. Per-session state is ≤ pathLen structs; nothing in
    * the plan holds a whole user or day in memory, so the shape survives
    * any fan-out of sessions.
    */
  def sessionPaths(
      events: DataFrame,
      gapSeconds: Long = 1800L,
      pathLen: Int = 3): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val bySession = Window.partitionBy("user_id", "session_seq")
      .orderBy(col("ts"), col("event_id"))
    events
      .withColumn("prev_ts", lag("ts", 1).over(byUser))
      .withColumn(
        "new_session",
        (col("prev_ts").isNull ||
          (unix_timestamp(col("ts")) - unix_timestamp(col("prev_ts")) > gapSeconds)).cast("int"))
      .withColumn("session_seq", sum("new_session").over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("rn", row_number().over(bySession))
      .filter(col("rn") <= pathLen)
      .groupBy("user_id", "session_seq")
      .agg(array_join(
        transform(
          array_sort(collect_list(struct(col("rn"), col("event_type")))),
          x => x.getField("event_type")), ">").as("path"))
      .groupBy("path")
      .agg(count(lit(1)).as("n_sessions"))
      .orderBy(col("n_sessions").desc, col("path"))
  }

  /** As-of join (an operator Spark lacks natively): for every 'click' event,
    * the most recent 'view' event at-or-before it for the same user.
    *
    * Implemented the scalable way — NOT a range cross-join: union both
    * sides, one window per user ordered by time carrying the last view id
    * forward (`last(..., ignoreNulls)`), then keep the click rows. One
    * shuffle on user_id, linear work. DuckDB's native ASOF JOIN is the
    * oracle.
    */
  def asofJoinClickToView(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events
      .withColumn(
        "view_marker",
        when(col("event_type") === "view", col("event_id")))
      .withColumn("last_view_id", last("view_marker", ignoreNulls = true).over(w))
      .filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"), col("last_view_id"))
      .orderBy("user_id", "click_id")
  }

  /** The same click→view as-of, through the NATIVE operator
    * ([[graft.plans.AsOfJoin]] — custom logical node, planner strategy and
    * sorted-merge physical plan) instead of the union+window composition
    * above. Two genuinely separate tables enter the join (the general case
    * the composition can't express without a padded union); with
    * `toleranceMicros` set, matches older than the tolerance fall back to
    * null — the "stale quote" guard of a trades-as-of-quotes join.
    */
  def asofJoinNative(events: DataFrame, toleranceMicros: Option[Long] = None): DataFrame = {
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"), col("ts"))
    val views = events.filter(col("event_type") === "view")
      .select(col("user_id"), col("event_id").as("view_id"), col("ts").as("v_ts"))
    graft.plans.AsOfJoin.leftAsOf(
        clicks, views,
        on = Seq("user_id"), leftTimeCol = "ts", rightTimeCol = "v_ts",
        rightTieBreak = Some("view_id"), toleranceMicros = toleranceMicros,
        // pin the sorted-merge plan: at 100 TB the view stream is
        // fact-sized, and the small-SF size estimate must not flip the
        // benched shape to broadcast
        broadcastRight = Some(false))
      .select(col("user_id"), col("click_id"), col("view_id"))
      .orderBy("user_id", "click_id")
  }

  /** The broadcast as-of variant on a genuinely dimension-sized reference:
    * each click matched to the user's most recent signup at-or-before it.
    * The signup frame is user-cardinality (one first-signup row per user)
    * — the shape that broadcasts at any corpus scale — so the click stream
    * is never shuffled for this join ([[graft.plans.BroadcastAsOfJoinExec]]).
    */
  def asofJoinBroadcast(events: DataFrame): DataFrame = {
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"), col("ts"))
    val signups = events.filter(col("event_type") === "signup")
      .groupBy("user_id")
      .agg(min(struct(col("ts"), col("event_id"))).as("first"))
      .select(col("user_id"), col("first.event_id").as("signup_id"),
        col("first.ts").as("s_ts"))
    graft.plans.AsOfJoin.leftAsOf(
        clicks, signups,
        on = Seq("user_id"), leftTimeCol = "ts", rightTimeCol = "s_ts",
        rightTieBreak = Some("signup_id"), broadcastRight = Some(true))
      .select(col("user_id"), col("click_id"), col("signup_id"))
      .orderBy("user_id", "click_id")
  }

  /** Ordered funnel per user: view → first click AFTER the first view →
    * first purchase AFTER that click. ORDER matters (a click before any
    * view does not advance the funnel), which is what separates this from
    * three EXISTS flags. One conditional-aggregation pass per stage —
    * stage n+1's cutoff is stage n's timestamp, carried by a join on
    * user_id — so the whole funnel is three hash aggregates over one scan
    * each, shuffling one row per user per stage. No window over the full
    * event stream, no per-user event sorting: at 100 TB the state is
    * user-cardinality-sized, never event-sized.
    */
  def funnelStages(events: DataFrame): DataFrame = {
    val views = events.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min("ts").as("t_view"))
    val clicks = events.filter(col("event_type") === "click")
      .join(views, Seq("user_id"))
      .filter(col("ts") > col("t_view"))
      .groupBy("user_id").agg(min("ts").as("t_click"))
    val buys = events.filter(col("event_type") === "purchase")
      .join(clicks, Seq("user_id"))
      .filter(col("ts") > col("t_click"))
      .groupBy("user_id").agg(min("ts").as("t_buy"))
    events.select("user_id").distinct()
      .join(views, Seq("user_id"), "left")
      .join(clicks, Seq("user_id"), "left")
      .join(buys, Seq("user_id"), "left")
      .select(
        col("user_id"),
        col("t_view").isNotNull.as("reached_view"),
        col("t_click").isNotNull.as("reached_click"),
        col("t_buy").isNotNull.as("reached_purchase"))
      .orderBy("user_id")
  }

  /** Consecutive-duplicate suppression (change compression): keep an event
    * only when its value differs from the SAME user's previous event — the
    * CDC/sensor-stream cleaning primitive (a stuck sensor or redelivered
    * state update emits runs of identical values; only transitions carry
    * information). One lag window per user; null-safe comparison keeps
    * the first event of every user. Event-cardinality in, transitions out.
    */
  def dedupConsecutive(events: DataFrame): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    events
      .withColumn("prev_value", lag("value", 1).over(byUser))
      .filter(col("prev_value").isNull || col("value") =!= col("prev_value"))
      .select(col("event_id"), col("user_id"), col("value"))
      .orderBy("event_id")
  }

  /** Hopping (sliding) window aggregation in batch: 1-hour windows every
    * 15 minutes — each event lands in exactly 4 overlapping windows, so
    * the plan is a 4× Expand feeding one hash aggregate (Spark's batch
    * `window()` — same generator the streaming engine uses, epoch-aligned
    * starts). The smoothing counterpart of [[hourlyEventAgg]]'s tumbling
    * windows; at 100 TB the fan-out factor is window/slide, a constant.
    */
  def hoppingEventAgg(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "1 hour", "15 minutes").as("w"))
      .agg(count(lit(1)).as("cnt"), round(sum("value"), 2).as("sum_val"))
      .select(col("w.start").as("hop_start"), col("cnt"), col("sum_val"))
      .orderBy("hop_start")

  /** Weekday × hour seasonality heatmap: event counts and mean value per
    * (ISO day-of-week, hour) cell — the load-profile aggregate behind
    * capacity planning and anomaly baselines. One hash aggregate, 168
    * output rows regardless of input size; the weekday is computed as
    * `weekday(ts)+1` (ISO 1=Monday) because Spark's `dayofweek` counts
    * from Sunday while the ANSI/DuckDB `isodow` counts from Monday.
    */
  def dowSeasonality(events: DataFrame): DataFrame =
    events
      .groupBy(
        (weekday(col("ts")) + lit(1)).cast("long").as("isodow"),
        hour(col("ts")).cast("long").as("hh"))
      .agg(count(lit(1)).as("cnt"), round(avg("value"), 4).as("avg_value"))
      .orderBy("isodow", "hh")

  /** Gap-filled daily activity: per-user daily event counts joined onto a
    * dense calendar spine, absent days as explicit zeros — what any
    * downstream time-series model needs (a missing row and a zero are
    * different facts). The spine is built distributively: the corpus span
    * is a 1-row aggregate CROSS-broadcast to the user list, then
    * `sequence`+`explode` fans out per-user days with no driver collect
    * and no shuffle beyond the daily aggregate itself. Spine size is
    * users × days — orders of magnitude below event cardinality.
    */
  def gapFillDaily(events: DataFrame): DataFrame = {
    val daily = events
      .select(col("user_id"), to_date(col("ts")).as("day"))
      .groupBy("user_id", "day").agg(count(lit(1)).as("n_events"))
    val span = events.agg(
      to_date(min("ts")).as("d0"), to_date(max("ts")).as("d1"))
    val spine = events.select("user_id").distinct()
      .crossJoin(broadcast(span))
      .select(col("user_id"), explode(sequence(col("d0"), col("d1"))).as("day"))
    spine
      .join(daily, Seq("user_id", "day"), "left")
      .select(col("user_id"), col("day"),
        coalesce(col("n_events"), lit(0L)).as("n_events"))
      .orderBy("user_id", "day")
  }

  /** Per-user z-score outliers: events whose value sits more than `z`
    * standard deviations from the user's mean. Mean/stddev come from an
    * unordered partition window (one shuffle on user_id, no sort needed
    * beyond the hash), so this is the two-pass-free form of the classic
    * anomaly scan.
    */
  def zscoreAnomalies(events: DataFrame, z: Double = 2.0): DataFrame = {
    val byUser = Window.partitionBy("user_id")
    events
      .select(col("event_id"), col("user_id"), col("value"),
        avg("value").over(byUser).as("mu"),
        stddev_samp("value").over(byUser).as("sd"))
      // sd = 0 (a user whose values are all identical) or NULL (a single
      // event) has no defined z-score; without the guard Spark yields
      // NaN/Inf and treats NaN > z as true while other engines' div-by-
      // zero semantics vary — filter the degenerate groups explicitly on
      // BOTH engines (mirrored in the q_events_zscore oracle)
      .filter(col("sd").isNotNull && col("sd") =!= 0.0)
      .withColumn("zscore", round((col("value") - col("mu")) / col("sd"), 4))
      .filter(abs(col("zscore")) > z)
      .select("event_id", "user_id", "value", "zscore")
      .orderBy("event_id")
  }

  /** Retention cohorts: users bucketed by first-activity day, counted by
    * distinct-active-user per (cohort_day, day_offset) — the daily
    * retention triangle. Two aggregates: first-seen per user (one row per
    * user), then distinct users per cohort cell (one row per cell). Both
    * shuffles are user- or cell-cardinality, never event-cardinality; the
    * classic shape that survives any event volume.
    */
  def retentionCohorts(events: DataFrame): DataFrame = {
    val firstDay = events.groupBy("user_id")
      .agg(to_date(min("ts")).as("cohort_day"))
    events
      .select(col("user_id"), to_date(col("ts")).as("active_day"))
      .distinct()
      .join(firstDay, Seq("user_id"))
      // (user, day) pairs are already distinct ⇒ plain count IS the
      // distinct-user count, without countDistinct's Expand
      .groupBy(col("cohort_day"), col("active_day"))
      .agg(count(lit(1)).as("n_active"))
      .select(
        col("cohort_day"),
        datediff(col("active_day"), col("cohort_day")).cast("long").as("day_offset"),
        col("n_active"))
      .orderBy("cohort_day", "day_offset")
  }

  /** Week-over-week trend per event type: weekly counts with the
    * previous week's count and the change in exact integer basis points
    * (`(Δ·10000) div prev` — both engines truncate integer division
    * toward zero, so negative deltas agree too). Week-cardinality
    * aggregate, one tiny lag window per type.
    */
  def weekOverWeek(events: DataFrame): DataFrame = {
    // DATE, not the truncated TIMESTAMP: other engines (DuckDB) type
    // week-or-coarser date_trunc as DATE, and the gate compares types
    val wk = events
      .groupBy(to_date(date_trunc("week", col("ts"))).as("week"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy("event_type").orderBy("week")
    wk.withColumn("prev_cnt", lag("cnt", 1).over(w))
      .filter(col("prev_cnt").isNotNull)
      .select(col("week"), col("event_type"), col("cnt"), col("prev_cnt"),
        expr("((cnt - prev_cnt) * 10000) div prev_cnt").as("delta_bps"))
      .orderBy("week", "event_type")
  }

  /** Daily and 7-day rolling active users (DAU/WAU): the engagement
    * pair every analytics stack reports. Aggregate-first: events collapse
    * to distinct (user, day) — user·day cardinality, never events — then
    * each activity day contributes to its 7-day forward window via a
    * 7-element `sequence` explode and a second distinct (a user active
    * twice in a week still counts once). No self-join of days against
    * events, no window over the event stream; both counts are exact
    * integers.
    */
  def activeUsers(events: DataFrame): DataFrame = {
    val ud = QueryCache.cached(
      events.select(col("user_id"), to_date(col("ts")).as("day")).distinct())
    val dau = ud.groupBy("day").agg(count(lit(1)).as("dau"))
    val wau = ud
      .select(col("user_id"),
        explode(sequence(col("day"), date_add(col("day"), 6))).as("day"))
      .distinct()
      .groupBy("day").agg(count(lit(1)).as("wau"))
    dau.join(wau, Seq("day"))
      .select(col("day"), col("dau"), col("wau"))
      .orderBy("day")
  }

  /** Per-user event-transition (Markov) matrix: count every consecutive
    * (from → to) event-type pair in each user's timeline, with the row-
    * conditional probability as an exact integer-bps ratio. One window
    * shuffle for the lag, one type²-cardinality aggregate — the path-
    * analysis staple (what follows a view? where do errors lead?).
    */
  def eventTransitions(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val pairs = events
      .withColumn("from_type", lag("event_type", 1).over(w))
      .filter(col("from_type").isNotNull)
      .groupBy(col("from_type"), col("event_type").as("to_type"))
      .agg(count(lit(1)).as("cnt"))
    val rowTotals = Window.partitionBy("from_type")
    pairs
      .withColumn("row_total", sum("cnt").over(rowTotals))
      .select(col("from_type"), col("to_type"), col("cnt"),
        expr("(cnt * 10000) div row_total").as("p_bps"))
      .orderBy("from_type", "to_type")
  }

  /** Type-2 slowly-changing-dimension history: each user's event_type
    * stream collapses to its CHANGE points (consecutive repeats drop),
    * and every surviving state gets a `[valid_from, valid_to)` interval —
    * `valid_to` null and `is_current` true on the latest. The standard
    * warehouse versioning shape, built from two lag/lead passes over the
    * SAME (user_id, ts, event_id) window sort — Catalyst reuses the one
    * exchange+sort for both, so this is a single shuffle end to end.
    */
  def scd2History(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    events
      .withColumn("prev_type", lag("event_type", 1).over(w))
      .filter(col("prev_type").isNull || col("prev_type") =!= col("event_type"))
      .withColumn("version", row_number().over(w).cast("long"))
      .withColumn("valid_to", lead(col("ts"), 1).over(w))
      .select(col("user_id"), col("version"), col("event_type"),
        col("ts").as("valid_from"), col("valid_to"),
        col("valid_to").isNull.as("is_current"))
      .orderBy("user_id", "version")
  }

  /** Last-touch attribution: each purchase is credited to the most recent
    * PRIOR touch event (click/view) by the same user, `'none'` when the
    * purchase has no preceding touch. One carry-forward window per user
    * (ignore-nulls `last` over rows-preceding — the same idiom as a
    * forward-fill), then an aggregate over the channel-cardinality result.
    * The single shuffle is the user-id window sort; no self-join of events
    * against events, so the plan is linear in event volume and survives
    * any per-user history length.
    */
  def lastTouchAttribution(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    events
      .withColumn("channel",
        last(when(col("event_type").isin("click", "view"), col("event_type")),
          ignoreNulls = true).over(w))
      .filter(col("event_type") === "purchase")
      .groupBy(coalesce(col("channel"), lit("none")).as("channel"))
      .agg(count(lit(1)).as("n_purchases"),
        round(sum("value"), 4).as("attributed_value"))
      .orderBy("channel")
  }

  /** Time-to-convert: calendar days between each user's first signup and
    * their first purchase at-or-after it, bucketed into a histogram.
    * Aggregate-first shape: min-signup per user (user-cardinality), then
    * purchases join that (equi on user_id) and re-aggregate — never an
    * event×event product. Day arithmetic is calendar-date `datediff` on
    * both engines (epoch-seconds subtraction is truncation-order-sensitive
    * across engines; date casts are not).
    */
  def timeToConvert(events: DataFrame): DataFrame = {
    val firstSignup = events.filter(col("event_type") === "signup")
      .groupBy("user_id").agg(min("ts").as("signup_ts"))
    events.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"))
      .join(firstSignup, Seq("user_id"))
      .filter(col("ts") >= col("signup_ts"))
      .groupBy(col("user_id"), col("signup_ts"))
      .agg(min("ts").as("conv_ts"))
      .select(datediff(to_date(col("conv_ts")), to_date(col("signup_ts")))
        .cast("long").as("days_to_convert"))
      .groupBy("days_to_convert")
      .agg(count(lit(1)).as("n_users"))
      .orderBy("days_to_convert")
  }

  /** RFM segmentation over purchase events: per-user recency (days since
    * last purchase, vs the global max purchase date), frequency (purchase
    * count), monetary (value sum), each scored into value-quintiles,
    * combined as the classic `r*100+f*10+m` segment code.
    *
    * Scale shape: one user-cardinality shuffle for the per-user aggregate,
    * then the 12 quintile cut-points (4 per dimension) come from ONE
    * map-side-combining `percentile_disc` aggregate — 12 scalars total —
    * broadcast back and scored with when-chains. No data-proportional
    * frame ever crosses a single partition (the round-8 version ranked
    * every user through three global ntile sorts — the `WindowExec: No
    * Partition Defined` class of scale-killer this replaces). At corpora
    * where even exact percentile_disc state is too heavy, the drop-in is
    * `approx_percentile` with the same when-chain scoring.
    *
    * Determinism: quintiles are VALUE-based (ties share a score —
    * standard RFM semantics, and order-independent by construction, so no
    * tiebreak column is needed). percentile_disc picks an actual data
    * value (no interpolation), and monetary is compared on an exact
    * integer 1e-4 grid (`round(monetary*10000)` as BIGINT, after the
    * pre-rounding of the sum at 4 digits) so no float boundary can flip a
    * score between engines.
    */
  def rfmSegments(events: DataFrame): DataFrame = {
    val purchases = events.filter(col("event_type") === "purchase")
    val perUser = purchases.groupBy("user_id").agg(
      to_date(max("ts")).as("last_day"),
      count(lit(1)).as("frequency"),
      round(sum("value"), 4).as("monetary"))
    val maxDay = purchases.agg(to_date(max("ts")).as("global_day"))
    val scored = perUser.crossJoin(broadcast(maxDay))
      .select(col("user_id"),
        datediff(col("global_day"), col("last_day")).cast("long").as("recency_days"),
        col("frequency"), col("monetary"),
        expr("CAST(round(monetary * 10000) AS BIGINT)").as("monetary_i"))
    val dims = Seq("recency_days" -> "rc", "frequency" -> "fc", "monetary_i" -> "mc")
    val cutCols = for { (dim, nm) <- dims; k <- 1 to 4 }
      yield expr(s"percentile_disc(0.${2 * k}) WITHIN GROUP (ORDER BY $dim)")
        .as(s"$nm$k")
    val cuts = scored.agg(cutCols.head, cutCols.tail: _*)
    def score(v: Column, nm: String): Column =
      (1 to 4).map(k => when(v > col(s"$nm$k"), 1L).otherwise(0L))
        .foldLeft(lit(1L))(_ + _)
    scored.crossJoin(broadcast(cuts))
      .select(col("user_id"), col("recency_days"), col("frequency"), col("monetary"),
        // recency is inverted: fewer days since last purchase = better = 5
        (lit(6L) - score(col("recency_days"), "rc")).as("r"),
        score(col("frequency"), "fc").as("f"),
        score(col("monetary_i"), "mc").as("m"))
      .withColumn("segment", col("r") * 100L + col("f") * 10L + col("m"))
      .select("user_id", "recency_days", "frequency", "monetary", "r", "f", "m", "segment")
      .orderBy("user_id")
  }

  final case class HourCount(event_type: String, hour_s: Long, cnt: Long)

  /** EWMA smoothing of the per-type hourly event-count series — the
    * sequential-recurrence family (s_t = ¾·s_{t−1} + ¼·x_t, s_1 = x_1)
    * that window frames cannot express (each value depends on the whole
    * smoothed prefix, not a bounded frame). The recurrence runs as a
    * per-key sorted fold in `flatMapGroups`: keys are event types (tiny
    * cardinality) and each group holds one bounded series — the same
    * shape scales to per-user smoothing at 100 TB because state is one
    * group's series, keys hash-partition, and nothing is global.
    *
    * Bit-exact discipline: α = ¼ and 1−α = ¾ are exactly representable
    * binary fractions and the fold performs the identical IEEE-754
    * mult-mult-add sequence DuckDB's recursive CTE performs, so the
    * doubles agree to the last bit and the 1e-6 grid snap renders them
    * engine-identically — a sequential float recurrence made
    * hash-comparable.
    */
  def ewmaHourly(events: DataFrame): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .groupBy(col("event_type"),
        date_trunc("hour", col("ts")).cast("long").as("hour_s"))
      .agg(count(lit(1)).as("cnt"))
      .as[HourCount]
      .groupByKey(_.event_type)
      .flatMapGroups { (et: String, it: Iterator[HourCount]) =>
        val rows = it.toSeq.sortBy(_.hour_s)
        var s = 0.0
        var first = true
        rows.iterator.map { r =>
          s = if (first) { first = false; r.cnt.toDouble }
              else s * 0.75 + r.cnt.toDouble * 0.25
          (et, r.hour_s, r.cnt, math.floor(s * 1e6 + 0.5).toLong)
        }
      }
      .toDF("event_type", "hour_s", "cnt", "ewma_grid")
      .orderBy("event_type", "hour_s")
  }
}
