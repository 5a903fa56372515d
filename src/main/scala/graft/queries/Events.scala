package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ops.Dsl._
import graft.tables.Tables

/** Event-sourcing batch semantics (SURVEY.md §2.2 q09, q26, q33) — the
  * reference's CQRS cascade re-expressed as declarative Spark plans.
  */
object Events {

  /** q09: as-of join — for each purchase, the most recent strictly-earlier
    * click by the same user (NULL if none). The purchase→promise causality
    * correlation of consumer/consumer.go:123-144 generalized.
    *
    * Union-then-window form (the sort-merge as-of): both event kinds are
    * unioned into one stream, shuffled ONCE on user_id, sorted by
    * (ts, kind), and each purchase picks up the running
    * `last(click_ts, ignoreNulls)` — linear in events per user. The
    * previous join+max-aggregate form was quadratic per hot user
    * (purchases × clicks meet in the join before the max collapses them),
    * which is exactly the shape that dies on a power-law user at 100 TB.
    * Strict-< semantics at `click.ts == purchase.ts` are pinned by the sort
    * tiebreak: purchases (tag 0) sort BEFORE clicks (tag 1) at an equal ts,
    * so a same-instant click is outside the purchase's frame
    * (SemanticsSpec asserts this boundary on the real plan).
    */
  private[graft] def asOf(events: DataFrame): DataFrame = {
    val p = events.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), lit(0).as("tag"),
        col("event_id"), lit(null).cast("timestamp").as("c_ts"))
    // NULL-user clicks are dropped BEFORE the union: the window's
    // partitionBy groups NULL keys together, but the join semantics this
    // operator replaces (and the oracle's LEFT JOIN ON equal user_id)
    // never match a NULL key — a NULL-user purchase must keep a NULL
    // click_ts, not adopt a NULL-user click.
    val c = events.filter(col("event_type") === "click" && col("user_id").isNotNull)
      .select(col("user_id"), col("ts"), lit(1).as("tag"),
        lit(null).cast("long").as("event_id"), col("ts").as("c_ts"))
    // ROWS frame: ties inside a frame are only same-ts purchases (c_ts is
    // NULL there, skipped by ignoreNulls), so tie order can't leak into the
    // result; same-ts clicks are excluded by the tag tiebreak above.
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("tag"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    p.unionByName(c)
      .withColumn("click_ts", last(col("c_ts"), ignoreNulls = true).over(w))
      .filter(col("tag") === 0)
      .select(col("event_id"), col("user_id"),
        col("ts").as("purchase_ts"), col("click_ts"))
      .orderBy(col("event_id"))
  }

  /** q09 runs the NATIVE as-of operator (graft.plans.AsOfJoinExec — each
    * side shuffled once on its own key, sorted (key, ts), one forward
    * merge sweep with O(1) state), with [[asOf]] retained as the
    * executable window-composition specification: SemanticsSpec proves
    * the two row-equal on the event log and on planted boundary cases,
    * and the oracle LEFT JOIN checks both. NULL-user clicks need no
    * pre-filter here — a NULL key never matches by operator contract. */
  def q09(spark: SparkSession, sfDir: String): DataFrame = {
    val events = Tables.events(spark, sfDir)
    val p = events.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"))
    val c = events.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts"))
    graft.ops.AsOf.join(p, c, "user_id", "ts", "ts",
        Seq("ts" -> "click_ts"), inclusive = false)
      .select(col("event_id"), col("user_id"),
        col("ts").as("purchase_ts"), col("click_ts"))
      .orderBy(col("event_id"))
  }

  /** q26: duplicate elimination over the event log — repairs R4's
    * non-idempotent fresh-UUID append (consumer/consumer.go:187): group by
    * the natural key, count copies. */
  def q26(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .groupBy(col("user_id"), col("event_type"), col("ts"))
      .agg(count(lit(1)).as("n_copies"))
      .orderBy(col("user_id"), col("event_type"), col("ts"))

  /** q33 (flagship): the whole reference cascade as one declarative plan.
    * purchase events (consumer/consumer.go:123) → derived payment promises:
    * due = ts + 30 days (consumer/consumer.go:137), payment_mode fixed to
    * "月まとめ払い" (consumer/consumer.go:138) → monthly consolidated bill per
    * user (the 月まとめ払い mode of producer/events/events.go:18).
    *
    * filter → enrich-select → hash aggregate: one shuffle total, partial
    * aggregation map-side, filter pushed to the scan. */
  def q33(spark: SparkSession, sfDir: String): DataFrame = {
    val due = col("ts") + expr("INTERVAL 30 DAY")
    Tables.events(spark, sfDir)
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), col("value"),
        to_date(date_trunc("month", due)).as("bill_month"),
        lit("月まとめ払い").as("payment_mode"))
      .groupBy(col("user_id"), col("bill_month"), col("payment_mode"))
      .agg(count(lit(1)).as("n_purchases"), dsum(col("value")).as("billed_amount"))
      .orderBy(col("user_id"), col("bill_month"))
  }

  /** q62: strict sequential funnel — signup → view → click → purchase,
    * each stage's timestamp the EARLIEST event of that type strictly after
    * the previous stage (not merely "user did all four"): the conversion
    * query behind the reference's event cascade, and the label-building
    * shape of a behavioral training pipeline. Ordered by user_id; the
    * work is [[funnel]]. */
  def q62(spark: SparkSession, sfDir: String): DataFrame =
    funnel(Tables.events(spark, sfDir)).orderBy(col("user_id"))

  /** q62's unordered core on a plain DataFrame (user_id, event_type, ts,
    * …): one row per user with a signup event.
    *
    * Scale posture: ONE hash exchange on user_id. The four funnel event
    * types are shuffled once, and stacked partition-only windows over that
    * exchange compute each stage as MIN(ts) over the user's events of the
    * stage type strictly after the previous stage. A window buffers a
    * user's rows in Spark's spilling row buffer, so a hot user costs disk,
    * not heap. The oracle's equi-join chain never matches a NULL user_id
    * past signup; the `user_id IS NOT NULL` guard on the later stages
    * keeps the NULL-user group stranded there too.
    * MIN of timestamps is exact; `stages_completed` counts the non-null
    * stage times. */
  private[graft] def funnel(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
    def stage(evType: String, prev: String): Column =
      min(when(col("event_type") === evType && col("user_id").isNotNull &&
        col("ts") > col(prev), col("ts"))).over(w)
    events.select(col("user_id"), col("event_type"), col("ts"))
      .filter(col("event_type").isin("signup", "view", "click", "purchase"))
      .withColumn("t_signup", min(when(col("event_type") === "signup", col("ts"))).over(w))
      .withColumn("t_view", stage("view", "t_signup"))
      .withColumn("t_click", stage("click", "t_view"))
      .withColumn("t_purchase", stage("purchase", "t_click"))
      // the users with a signup row, one row each (every row of a user
      // carries the same stage times)
      .filter(col("event_type") === "signup")
      .groupBy(col("user_id"))
      .agg(min(col("t_signup")).as("t_signup"), min(col("t_view")).as("t_view"),
        min(col("t_click")).as("t_click"), min(col("t_purchase")).as("t_purchase"))
      .select(col("user_id"), col("t_signup"), col("t_view"), col("t_click"),
        col("t_purchase"),
        (lit(1) + col("t_view").isNotNull.cast("int") +
          col("t_click").isNotNull.cast("int") +
          col("t_purchase").isNotNull.cast("int")).as("stages_completed"))
  }

  /** q87 proximity window: ± this many microseconds (1 hour). */
  val RangeJoinWindowUs = 3600L * 1000000L

  /** q87: time-range join WITHOUT an equi key — for every purchase, the
    * count of click events (any user) within ±1 h and the nearest click
    * gap. The naive form `a JOIN b ON abs(a.ts − b.ts) ≤ W` has no equi
    * condition, so Spark can only plan a broadcast-nested-loop — O(n·m)
    * compares, the join shape that dies first at 100 TB. This operator IS
    * the standard bin-bucketing rewrite (the range-join technique behind
    * engine range-join hints): key each click by its ⌊ts/W⌋ bin, probe
    * each purchase into bins {b−1, b, b+1} (a ±W window can only span
    * those), equi-join on the bin, refine with the exact predicate.
    *
    * Each qualifying (purchase, click) pair meets EXACTLY once — the
    * click has one bin and the probe's three bins are distinct — so no
    * dedup pass is needed. Work = per-bin collision volume (density ×
    * window), never n·m; both sides shuffle once on the bin key, and
    * PlanSpec pins the absence of a nested-loop. Purchases with no
    * nearby click keep a row via the left join-back (n = 0, gap NULL).
    * All arithmetic is exact integer micros. */
  def q87(spark: SparkSession, sfDir: String): DataFrame =
    timeRangeJoin(Tables.events(spark, sfDir), RangeJoinWindowUs)

  /** q87 core on an arbitrary events frame — parameterized so the spec
    * can plant PRE-1970 timestamps, which the synthetic generator never
    * emits and the oracle therefore cannot probe. */
  private[graft] def timeRangeJoin(e: DataFrame, W: Long): DataFrame = {
    // FLOOR division on the integer domain (`div` truncates toward zero).
    // Truncation is ALSO complete — every trunc bin spans >= W integers
    // (bin 0 spans 2W-1), so two timestamps <= W apart sit <= 1 bin apart
    // under either semantics, pre-1970 included (brute-force-checked and
    // pinned in SemanticsSpec) — but floor gives UNIFORM width-W bins, so
    // the completeness and meets-exactly-once arguments in the scaladoc
    // read off the definition instead of needing the bin-width lemma. The
    // correction term is exact integer arithmetic (java.lang.Math.floorDiv
    // semantics), not FLOOR of a double quotient.
    def floorDivBin(c: String): org.apache.spark.sql.Column =
      expr(s"($c div $W) - (CASE WHEN $c % $W < 0 THEN 1 ELSE 0 END)")
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), unix_micros(col("ts")).as("p_us"))
    val clicks = e.filter(col("event_type") === "click")
      .select(unix_micros(col("ts")).as("c_us"))
      .withColumn("bin", floorDivBin("c_us"))
    val probe = purchases
      .select(col("purchase_id"), col("p_us"),
        explode(array(lit(-1L), lit(0L), lit(1L))).as("db"))
      .select(col("purchase_id"), col("p_us"),
        (floorDivBin("p_us") + col("db")).as("bin"))
    val near = probe.join(clicks, Seq("bin"))
      .filter(abs(col("c_us") - col("p_us")) <= W)
      .groupBy(col("purchase_id"))
      .agg(count(lit(1)).as("n"),
        min(abs(col("c_us") - col("p_us"))).as("gap"))
    purchases
      .join(near, Seq("purchase_id"), "left")
      .select(col("purchase_id"), col("p_us").as("purchase_us"),
        coalesce(col("n"), lit(0L)).as("n_nearby_clicks"),
        col("gap").as("nearest_gap_us"))
      .orderBy(col("purchase_id"))
  }

  /** q86: cohort retention — the classic activation/retention audit over
    * the event log: users cohorted by FIRST active day, then for every
    * (cohort, day-offset) the count of cohort members active that day and
    * the ratio4 retention rate. The curve behind every "day-N retention"
    * dashboard, and (for a training pipeline) the usage decay that drives
    * data-freshness weighting.
    *
    * Scale posture: ONE shuffle of the event stream — projected to
    * distinct (user, day) via a per-user collect_set (bounded by the
    * retention horizon in days, the same bounded-state argument as the
    * streaming watermarks), from which the cohort day (array_min), every
    * offset (explode), and the cohort sizes all derive map-side; the two
    * downstream aggregates run on (cohorts × offsets)-sized frames, and
    * cohort sizes broadcast back onto the retention frame. MIN/datediff
    * are exact integer/date arithmetic — the only float is the final
    * ratio4. */
  def q86(spark: SparkSession, sfDir: String): DataFrame = {
    val perUser = Tables.events(spark, sfDir)
      .filter(col("user_id").isNotNull)
      .select(col("user_id"), to_date(date_trunc("day", col("ts"))).as("d"))
      .groupBy(col("user_id"))
      .agg(collect_set(col("d")).as("days"))
      .select(col("user_id"), array_min(col("days")).as("cohort_day"),
        explode(col("days")).as("d"))
      // eager pin, not lazy cache: `sizes` (an aggregate of this frame)
      // joins back onto the retention aggregate OF this frame — both join
      // sides share the one plan (q104 shape; r9 pinning sweep)
      .localCheckpoint(true)
    val sizes = perUser.filter(col("d") === col("cohort_day"))
      .groupBy(col("cohort_day")).agg(count(lit(1)).as("cohort_n"))
    perUser
      .groupBy(col("cohort_day"),
        datediff(col("d"), col("cohort_day")).cast("long").as("day_offset"))
      .agg(count(lit(1)).as("n_active"))
      .join(broadcast(sizes), Seq("cohort_day"))
      .select(col("cohort_day"), col("day_offset"), col("n_active"), col("cohort_n"),
        ratio4(col("n_active"), col("cohort_n")).as("retention"))
      .orderBy(col("cohort_day"), col("day_offset"))
  }

  /** q113: SCD2 projection HISTORY — the temporal form of the q27
    * last-writer-wins projection (R8, consumer/consumer.go:214-220):
    * instead of only the latest state per user, every validity interval
    * the state ever occupied. A new interval opens on each status CHANGE
    * (consecutive same-status events extend the open interval, the
    * standard type-2 collapse); `valid_to` is the next change's
    * `valid_from`, NULL on the open interval — R10's NULL discipline for
    * "not yet ended" (main.go:252,264-266). `event_id` of the opening
    * event rides along as the surrogate key every SCD2 table carries
    * (and makes the output order total under duplicate timestamps).
    *
    * Scale posture: ONE shuffle on user_id serves both windows — the
    * change-detection lag and the interval-close lead share the
    * (user_id; ts, event_id) sort, and the filter between them preserves
    * partitioning AND order, so Catalyst plans lag → filter → lead with
    * a single Exchange and a single Sort (PlanSpec pins the budget).
    * State per user is one row in flight — nothing accumulates. */
  def q113(spark: SparkSession, sfDir: String): DataFrame =
    scd2(Tables.events(spark, sfDir))

  /** q114: promise aging report — the receivables view every BNPL/credit
    * book runs against its open payment promises (the R6 derived event,
    * consumer/consumer.go:137: due = purchase ts + 30 days): each promise
    * bucketed by how many days past due it stands, with count, distinct
    * debtors, and decimal-exact outstanding amount per bucket. The report
    * is anchored at `ref_date` = the log's horizon (max event ts, any
    * type — the log clock, not the purchase clock) + 16 days: the
    * mid-cycle snapshot, when the newest promises are still current
    * (due ≥ ref — "due today" counts as current, the age ≤ 0 boundary)
    * and the oldest are two weeks past due — so the synthetic 30-day log
    * populates current + both week buckets + the 15-30 edge, while
    * `4_past_over_30` is vacuously empty there and pinned on planted
    * rows instead (the q29/q109 vacuity discipline; note over-30 is
    * reachable only when the log spans more than 30−16 days — any fixed
    * anchor trades which buckets the finite window can reach). Weekly
    * buckets (1-7 / 8-14 / 15-30 / over-30) are the short-cycle aging
    * grid a 30-day credit product actually tracks; bucket keys carry a
    * numeric sort prefix so the output order is the aging order without
    * a CASE in the ORDER BY.
    *
    * Scale posture: ref_date is ONE aggregate row broadcast back onto the
    * promise stream (allowlisted single-row BNLJ — the q58/q103 shape),
    * then one filter-pushed scan and ONE hash aggregate over ≤5 grouping
    * keys with map-side partials; nothing shuffles at event cardinality
    * except the count-distinct expand, which AQE handles like any
    * distinct aggregate. Age arithmetic is pure DATE integer math —
    * `date(ts + 30d)` and `datediff` — no float anywhere. */
  def q114(spark: SparkSession, sfDir: String): DataFrame =
    aging(Tables.events(spark, sfDir))

  /** q114 core on a plain (user_id, event_type, ts, value) frame so
    * SemanticsSpec can pin the vacuous buckets (current / over-30) and
    * the bucket boundaries (1, 7, 8, 14, 15, 30, 31 days) on planted
    * rows. */
  private[graft] def aging(events: DataFrame): DataFrame = {
    val refRow = events.agg(
      date_add(to_date(max(col("ts"))), 16).as("ref_date"))
    val age = datediff(col("ref_date"), col("due_date")).cast("long")
    events
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), col("value"),
        to_date(col("ts") + expr("INTERVAL 30 DAY")).as("due_date"))
      .crossJoin(broadcast(refRow))
      .select(col("user_id"), col("value"), col("ref_date"),
        when(age <= 0, "0_current")
          .when(age <= 7, "1_past_1_7")
          .when(age <= 14, "2_past_8_14")
          .when(age <= 30, "3_past_15_30")
          .otherwise("4_past_over_30").as("bucket"),
        age.as("age"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_promises"),
        countDistinct(col("user_id")).as("n_users"),
        dsum(col("value")).as("total_due"),
        min(col("age")).as("min_age"),
        max(col("age")).as("max_age"),
        first(col("ref_date")).as("ref_date"))
      .orderBy(col("bucket"))
  }

  /** q113 core on a plain (user_id, event_id, event_type, ts) frame so
    * SemanticsSpec can pin the collapse/open-interval boundaries on
    * planted rows. */
  private[graft] def scd2(events: DataFrame): DataFrame =
    scd2Intervals(events
      .select(col("user_id"), col("event_id"), col("event_type").as("status"), col("ts")))
      .orderBy(col("user_id"), col("valid_from"), col("event_id"))

  /** The SCD2 interval kernel of q113 and s24 over (user_id, event_id,
    * status, ts): per user in (ts, event_id) order, lag drops the rows
    * that repeat the previous status and lead closes each interval at the
    * next change (NULL valid_to for the open one). Unordered output. */
  private[graft] def scd2Intervals(ev: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    ev.withColumn("prev_status", lag(col("status"), 1).over(w))
      .filter(col("prev_status").isNull || col("prev_status") =!= col("status"))
      .withColumn("valid_to", lead(col("ts"), 1).over(w))
      .select(col("user_id"), col("event_id"), col("status"),
        col("ts").as("valid_from"), col("valid_to"))
  }

  /** q142: peak promise concurrency per month — the sweep-line
    * "active sessions over time" analytic: each purchase opens a
    * promise active on [ts, ts+30d) (q114's due rule, half-open —
    * a promise expiring at instant T and one opening at T never
    * overlap), every interval emits a +1/−1 boundary, and the GLOBAL
    * running sum of deltas over the (t, delta, event_id) total order
    * is the exact concurrency curve (delta sorts expirations BEFORE
    * starts at equal instants — the half-open rule; event_id breaks
    * the remaining ties). The curve is constant between boundaries,
    * but a month's true peak can sit at its very START (carry-in from
    * the previous month, first boundary an expiration), so every month
    * in the span also emits a delta-0 SENTINEL boundary at its first
    * instant — the sentinel samples the carried concurrency without
    * changing the sum (and sorts between same-instant expirations and
    * starts, exactly the half-open reading of "active at month
    * start"). With the curve sampled at every transition AND every
    * month start, the per-month argmax (active DESC, then the sweep
    * order) is the exact monthly peak, deterministic on both engines.
    *
    * Scale posture: the global prefix sum is the q72/q98 TWO-PHASE
    * discipline — boundaries range-partition on the sweep order, each
    * partition cumsums locally (partitioned window, never a global
    * one), per-partition totals broadcast as carry-in offsets — so the
    * sweep is O(boundaries) with full parallelism; the monthly argmax
    * is a WindowGroupLimit top-1 at month cardinality. */
  def q142(spark: SparkSession, sfDir: String): DataFrame =
    peakConcurrency(Tables.events(spark, sfDir))

  /** q142 kernel on a plain (event_id, event_type, ts) frame — the spec
    * seam (planted half-open-boundary and month-carry laws in
    * SemanticsSpec). */
  private[graft] def peakConcurrency(events: DataFrame): DataFrame = {
    val p = events.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("ts"),
        (col("ts") + expr("INTERVAL 30 DAY")).as("due_ts"))
    val real = p.select(col("ts").as("t"), lit(1L).as("delta"), col("event_id"))
      .unionAll(p.select(col("due_ts").as("t"), lit(-1L).as("delta"), col("event_id")))
    // delta-0 month-start sentinels over the boundary span: sample the
    // carry-in at every month's first instant (one row per month — the
    // span aggregate broadcasts, the sequence is month-cardinality)
    val sentinels = real
      .agg(to_date(date_trunc("month", min(col("t")))).as("m0"),
        to_date(date_trunc("month", max(col("t")))).as("m1"))
      .select(explode(sequence(col("m0"), col("m1"), expr("INTERVAL 1 MONTH"))).as("m"))
      .select(col("m").cast("timestamp").as("t"), lit(0L).as("delta"),
        lit(-1L).as("event_id"))
    // the active count is the global running sum of the deltas in sweep
    // order (the two-phase prefix sum)
    val cum = runningSum(real.unionAll(sentinels), "delta",
      Seq(col("t"), col("delta"), col("event_id")), "active")
    val best = Window.partitionBy(col("month"))
      .orderBy(col("active").desc, col("t"), col("delta"), col("event_id"))
    cum.withColumn("month", to_date(date_trunc("month", col("t"))))
      .withColumn("rn", row_number().over(best))
      .filter(col("rn") === 1)
      .select(col("month"), col("active").as("peak_active"), col("t").as("peak_ts"))
      .orderBy(col("month"))
  }
}
