package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ops.Dsl._
import graft.tables.Tables

/** Behavioral sequence analytics over the event log — the operators an
  * event platform runs once the projections (q27) and funnels (q62) are
  * in place: where users GO next (q153's Markov transition matrix),
  * which touchpoint gets CREDIT for a conversion (q154's last-touch
  * attribution, on the native as-of join), and what a state was worth
  * INTEGRATED OVER TIME rather than per event (q155's time-weighted
  * average, the temporal mean a per-event AVG silently gets wrong when
  * states persist for uneven durations). The reference's consumer reads
  * events one row at a time (consumer/consumer.go:95) and keeps no
  * sequence context at all; all three of these need exactly the per-user
  * ordered pass it cannot express.
  */
object Behavior {

  /** q153: first-order Markov transition matrix of the event stream —
    * for every ordered pair of consecutive events of the same user
    * ((ts, event_id) order, q27's total order), count (from_type →
    * to_type) and the row-normalized transition probability. The model
    * behind "what does a user do after signup?" and the sequence prior a
    * behavioral-cloning pipeline estimates before training anything.
    *
    * Scale posture: one window shuffle on user_id (high-cardinality,
    * embarrassingly parallel), then the pair aggregate — map-side
    * combined down to at most |types|² partials per task, so the second
    * exchange moves ≤ 25 rows per task regardless of corpus size. The
    * probability normalizer is a partitioned window over that bounded
    * frame. The streamed twin (s35, graft.streaming.TransitionStats)
    * accumulates the same pair counts additively and finishes through
    * the same [[transitionProbs]]. */
  def q153(spark: SparkSession, sfDir: String): DataFrame =
    transitionProbs(transitionCounts(Tables.events(spark, sfDir)))
      .orderBy(col("from_type"), col("to_type"))

  /** Consecutive-pair counts — the additive half s35 maintains per
    * batch. Input needs (user_id, event_type, ts, event_id). */
  private[graft] def transitionCounts(ev: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    ev.select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
      .withColumn("to_type", lead(col("event_type"), 1).over(w))
      .filter(col("to_type").isNotNull)
      .groupBy(col("event_type").as("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n_transitions"))
  }

  /** The shared finisher: row-normalize a (from_type, to_type,
    * n_transitions) count frame to 4-dec probabilities. Window is
    * PARTITIONED (by from_type) and the frame is ≤ |types|² rows. */
  private[graft] def transitionProbs(counts: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("from_type"))
    counts
      .withColumn("p4", ratio4(col("n_transitions"), sum(col("n_transitions")).over(w)))
      .select(col("from_type"), col("to_type"), col("n_transitions"), col("p4"))
  }

  /** q154 attribution lookback: a touch older than this many micros
    * before the conversion gets no credit — the conversion is `direct`.
    * 6 h sits inside the stream's ~10 h median inter-event gap, so both
    * branches are exercised at every sf. */
  val AttributionWindowMicros: Long = 6L * 3600 * 1000000

  /** q154: last-touch attribution — every purchase is credited to the
    * channel (event_type) of the user's LATEST preceding non-purchase
    * event within [[AttributionWindowMicros]], else to `direct`; output
    * is the per-channel conversion count and attributed revenue, the
    * report every marketing/event platform derives from its stream.
    *
    * The latest-preceding lookup is the NATIVE as-of join
    * (graft.plans.AsOfJoinExec — each side shuffled once on user_id,
    * sorted, one forward merge sweep with O(1) state; q09's operator).
    * The touch side is first reduced to one row per (user_id, ts) — LWW
    * by event_id — because the as-of contract leaves same-(key, time)
    * ties unordered (AsOf.join scaladoc); after the reduction the match
    * is a total function, so the report is deterministic.
    *
    * Scale posture: filter → per-(user, ts) aggregate → as-of merge →
    * 5-group map-side-combined aggregate. No window over raw events, no
    * inequality join (the oracle's LEFT JOIN ON ts < ts form is the
    * quadratic plan this operator exists to avoid). */
  def q154(spark: SparkSession, sfDir: String): DataFrame =
    attribution(Tables.events(spark, sfDir))

  /** q154 kernel on an arbitrary event frame (planted-data seam). */
  private[graft] def attribution(ev: DataFrame): DataFrame = {
    val conv = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("value"))
    // one shuffle for the whole touch side: partitioning by user_id
    // satisfies BOTH the (user_id, ts) dedupe's clustered distribution
    // (subset partitioning co-locates) and the as-of join's key
    // requirement, so the dedupe-then-join chain re-uses this exchange
    // instead of shuffling twice (plan-pinned in PlanSpec)
    val touch = ev.filter(col("event_type") =!= "purchase")
      .repartition(col("user_id"))
      .groupBy(col("user_id"), col("ts"))
      .agg(max(struct(col("event_id"), col("event_type"))).as("m"))
      .select(col("user_id"), col("ts"), col("m.event_type").as("touch_type"))
    graft.ops.AsOf.join(conv, touch, "user_id", "ts", "ts",
        Seq("ts" -> "touch_ts", "touch_type" -> "touch_type"), inclusive = false)
      .select(col("value"),
        when(col("touch_ts").isNotNull &&
            unix_micros(col("ts")) - unix_micros(col("touch_ts")) <=
              AttributionWindowMicros,
          col("touch_type")).otherwise(lit("direct")).as("channel"))
      .groupBy(col("channel"))
      .agg(count(lit(1)).as("n_conversions"), dsum(col("value")).as("attr_value"))
      .orderBy(col("channel"))
  }

  /** q157: POSITION-BASED (first/last split) attribution — q154's
    * multi-touch completion: within the same 6 h lookback, the FIRST
    * touch and the LAST touch before each purchase split the credit
    * 50/50 (one touch takes both halves; no touch → `direct` takes all),
    * the U-shaped model every attribution suite ships next to last-touch.
    * Output per channel: first-role credits, last-role credits, direct
    * conversions, and the attributed revenue.
    *
    * Unlike q154 (one as-of lookup), this needs the touch SET inside the
    * window, so the engine runs q87's binned range join: touches keyed by
    * (user, ⌊t/W⌋), conversions probe their two candidate bins — an
    * EQUI-join whose pair fan-out is bounded by the per-user activity
    * inside one window W, never corpus-quadratic (the oracle's
    * inequality join is exactly the plan this avoids). Credit halves are
    * exact DECIMAL (a 2-dec value halves to an exact 3-dec), so the
    * report is float-free until the final cast.
    *
    * Determinism: touches are pre-reduced per (user, ts) by event_id
    * (q154's move), so first = min, last = max over unique instants. */
  def q157(spark: SparkSession, sfDir: String): DataFrame =
    positionAttribution(Tables.events(spark, sfDir))

  /** q157 kernel on an arbitrary event frame (planted-data seam). */
  private[graft] def positionAttribution(ev: DataFrame): DataFrame = {
    val W = AttributionWindowMicros
    // q87's exact integer floor-div binning (pre-1970-safe)
    def floorDivBin(c: String) =
      expr(s"($c div $W) - (CASE WHEN $c % $W < 0 THEN 1 ELSE 0 END)")
    val conv = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("conv_id"), col("user_id"),
        unix_micros(col("ts")).as("p_us"),
        col("value").cast("decimal(18,4)").as("value"))
    val touch = ev.filter(col("event_type") =!= "purchase")
      .groupBy(col("user_id"), col("ts"))
      .agg(max(struct(col("event_id"), col("event_type"))).as("m"))
      .select(col("user_id"), unix_micros(col("ts")).as("t_us"),
        col("m.event_type").as("channel"))
      .withColumn("bin", floorDivBin("t_us"))
    // a touch in [p−W, p) sits in the conversion's own bin or the one
    // below — two probe rows per conversion, an equi-join on (user, bin)
    val probe = conv
      .select(col("conv_id"), col("user_id"), col("p_us"), col("value"),
        explode(array(lit(-1L), lit(0L))).as("db"))
      .select(col("conv_id"), col("user_id"), col("p_us"), col("value"),
        (floorDivBin("p_us") + col("db")).as("bin"))
    val inWin = probe.join(touch, Seq("user_id", "bin"))
      .filter(col("t_us") < col("p_us") && col("p_us") - col("t_us") <= W)
      .groupBy(col("conv_id"))
      .agg(min(struct(col("t_us"), col("channel"))).as("ft"),
        max(struct(col("t_us"), col("channel"))).as("lt"))
    val half = (col("value") * lit(0.5).cast("decimal(2,1)")).cast("decimal(19,5)")
    val full = col("value").cast("decimal(19,5)")
    conv.join(inWin, Seq("conv_id"), "left_outer")
      .select(explode(when(col("ft").isNull,
          array(struct(lit("direct").as("channel"), lit("direct").as("role"),
            full.as("credit"))))
        .otherwise(array(
          struct(col("ft.channel").as("channel"), lit("first").as("role"),
            half.as("credit")),
          struct(col("lt.channel").as("channel"), lit("last").as("role"),
            half.as("credit"))))).as("cr"))
      .select(col("cr.channel").as("channel"), col("cr.role").as("role"),
        col("cr.credit").as("credit"))
      .groupBy(col("channel"))
      .agg(sum(when(col("role") === "first", 1L).otherwise(0L)).as("n_first"),
        sum(when(col("role") === "last", 1L).otherwise(0L)).as("n_last"),
        sum(when(col("role") === "direct", 1L).otherwise(0L)).as("n_direct"),
        sum(col("credit")).cast("double").as("attr_value"))
      .orderBy(col("channel"))
  }

  /** q155: per-user TIME-WEIGHTED average event value — each event's
    * value is held until the user's next event and integrated over the
    * holding duration: twap = Σ valueᵢ·Δtᵢ / ΣΔtᵢ over the user's
    * observation span (the last event holds nothing — a right-open
    * integral; single-event users have an empty span and a NULL twap).
    * This is the temporal mean a plain AVG misstates whenever states
    * persist unevenly — the balance-over-time / exposure-weighting
    * query of any ledger- or session-valued stream.
    *
    * Exactness: durations are exact epoch micros; values are 2-dec
    * doubles carried as exact integer CENTS, so the integral
    * Σ cents·Δt_us is exact DECIMAL arithmetic end to end, and the final
    * 4-dec quotient is [[ratio4dec]] (exact half-up from exact decimal
    * operands — cents·micros products pass 2⁵³, so the double-carried
    * ratio4 would already be lossy at THIS scale; the oracle mirrors the
    * identical half-up in HUGEINT). Nothing floats until the one final
    * division by 10⁴.
    *
    * Scale posture: the lead() window and the groupBy share user_id
    * hash partitioning — the aggregate reuses the window's exchange, so
    * the whole query is ONE corpus-sized shuffle; output is one row per
    * user (the q27 contract). */
  def q155(spark: SparkSession, sfDir: String): DataFrame =
    twap(Tables.events(spark, sfDir))

  /** q156 quantile count (quintiles — the classic 5×5×5 RFM grid). */
  val RfmQuantiles = 5

  /** q156 monetary boundary grid: boundaries are computed on a
    * dollar-floored histogram so the boundary frame is bounded by the
    * VALUE RANGE over the grid, never by the user count — per-user SUMS
    * (unlike q135's raw 2-dec values) can take ~one distinct value per
    * user, which would turn the per-metric cumulative pass into a
    * corpus-sized single task. Fixed-resolution histograms are exactly
    * how production quantile systems bound this. */
  val MonetaryGridCents = 100L

  /** q156: RFM segmentation — every user scored into quintiles of
    * recency (days from their last event to the log clock, q114's
    * anchor), frequency (event count), and monetary (exact cents sum),
    * reported as the segment grid (r_q, f_q, m_q) with user counts,
    * total value and mean frequency: the behavioral-segmentation query
    * every event platform derives, and the stratification key a
    * curation pipeline samples against.
    *
    * The quantile machinery is the part built for 100 TB: boundaries
    * are DISC percentiles read off per-metric value HISTOGRAMS — one
    * map-side-combined (metric, value) aggregate, a cumulative window
    * PARTITIONED by metric over the bounded histogram (recency is
    * calendar-bounded, frequency bounded by the per-user event ceiling,
    * monetary on the fixed [[MonetaryGridCents]] grid), then
    * `smallest v with 5·cum ≥ k·N` in exact integers
    * ([[graft.ops.Dsl.cumHist]] + [[graft.ops.Dsl.disc]]) — never a global
    * sort or an ntile over the corpus (the plan a naive quantile
    * scoring would produce, and the single-task stage this query
    * exists to avoid). The 3-row boundary panel broadcasts back into
    * one per-user scoring pass. */
  def q156(spark: SparkSession, sfDir: String): DataFrame =
    rfm(Tables.events(spark, sfDir))

  /** q156 kernel on an arbitrary event frame (planted-data seam). */
  private[graft] def rfm(ev: DataFrame): DataFrame =
    rfmSegments(rfmMetrics(ev))

  /** q156's per-user metric aggregate — the ADDITIVE half s37 maintains
    * per batch (max/count/sum are all mergeable partials): one
    * map-side-combined shuffle of the events. */
  private[graft] def rfmMetrics(ev: DataFrame): DataFrame =
    ev.select(col("user_id"), col("ts"),
        (col("value").cast("decimal(12,2)") * 100).cast("long").as("cents"))
      .groupBy(col("user_id"))
      .agg(max(col("ts")).as("last_ts"), count(lit(1)).as("frequency"),
        sum(col("cents")).as("cents"))

  /** q156's quantile finisher on a (user_id, last_ts, frequency, cents)
    * metric frame — shared with s37's merged store read so batch and
    * stream segment identically by construction. */
  private[graft] def rfmSegments(metricsIn: DataFrame): DataFrame = {
    // the log clock (q114's anchor) read off the metric frame itself:
    // max(last_ts) == max event ts — a single-row broadcast
    // (NoCartesian-allowlisted shape)
    val refRow = metricsIn.agg(to_date(max(col("last_ts"))).as("ref_date"))
    val metrics = metricsIn
      .crossJoin(broadcast(refRow))
      .select(col("user_id"),
        datediff(col("ref_date"), to_date(col("last_ts"))).cast("long").as("r"),
        col("frequency"), col("cents"))
    // two consumers (histogram chain + scoring) of one evaluation; the
    // frame is one row per user — local-mode parts bound (pin scaladoc)
    val pinned = pin(metrics)
    def melted: DataFrame = pinned.select(col("user_id"), col("cents"),
        col("frequency"), explode(array(
          struct(lit("r").as("metric"), col("r").as("v")),
          struct(lit("f").as("metric"), col("frequency").as("v")),
          struct(lit("m").as("metric"),
            (col("cents") - pmod(col("cents"), lit(MonetaryGridCents))).as("v")))).as("mv"))
      .select(col("user_id"), col("cents"), col("frequency"),
        col("mv.metric").as("metric"), col("mv.v").as("v"))
    val hist = melted.groupBy(col("metric"), col("v")).agg(count(lit(1)).as("cnt"))
    // quintile boundaries b1..b4: 5·cum ≥ k·N in exact integers
    val bs = (1 until RfmQuantiles).map(k => disc(col("v"), k, RfmQuantiles).as(s"b$k"))
    val bounds = cumHist(hist, Seq(col("metric")), col("v"), col("cnt"))
      .groupBy(col("metric")).agg(bs.head, bs.tail: _*)
    val q = lit(1) + (col("v") > col("b1")).cast("int") +
      (col("v") > col("b2")).cast("int") + (col("v") > col("b3")).cast("int") +
      (col("v") > col("b4")).cast("int")
    melted.join(broadcast(bounds), Seq("metric"))
      .select(col("user_id"), col("cents"), col("frequency"),
        col("metric"), q.as("q"))
      .groupBy(col("user_id"))
      .agg(max(when(col("metric") === "r", col("q"))).as("r_q"),
        max(when(col("metric") === "f", col("q"))).as("f_q"),
        max(when(col("metric") === "m", col("q"))).as("m_q"),
        max(col("cents")).as("cents"), max(col("frequency")).as("frequency"))
      .groupBy(col("r_q"), col("f_q"), col("m_q"))
      .agg(count(lit(1)).as("n_users"),
        (sum(col("cents")).cast("double") / 100.0).as("total_value"),
        ratio4(sum(col("frequency")), count(lit(1))).as("avg_freq4"))
      .orderBy(col("r_q"), col("f_q"), col("m_q"))
  }

  /** q155 kernel on an arbitrary event frame (planted-data seam). */
  private[graft] def twap(ev: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val cents = (col("value").cast("decimal(12,2)") * 100).cast("decimal(20,0)")
    ev.select(col("user_id"), col("ts"), col("event_id"),
        cents.as("cents"), unix_micros(col("ts")).as("us"))
      .withColumn("nxt", lead(col("us"), 1).over(w))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        sum(when(col("nxt").isNotNull, col("nxt") - col("us")).otherwise(0L))
          .as("span_us"),
        sum(when(col("nxt").isNotNull,
            col("cents") * (col("nxt") - col("us")).cast("decimal(20,0)"))
          .otherwise(lit(0).cast("decimal(20,0)"))).as("num"))
      .select(col("user_id"), col("n_events"), col("span_us"),
        when(col("span_us") > 0,
          ratio4dec(col("num"), col("span_us").cast("decimal(38,0)") * 100))
          .otherwise(lit(null).cast("double")).as("twap4"))
      .orderBy(col("user_id"))
  }

  /** q164: time-to-conversion survival analysis — the Nelson–Aalen
    * cumulative-hazard estimator over days-to-first-purchase, with
    * right-censoring at each user's last observed event: the
    * churn/conversion curve every retention team derives, done the way
    * survival statistics requires (a user who simply hasn't converted
    * YET is censored — at risk until their observation window ends —
    * never counted as a failure, the mistake a naive conversion-rate-
    * by-day query bakes in). Per distinct conversion duration t: the
    * at-risk count n(t) = #users observed ≥ t days, the conversions
    * d(t), the hazard increment d/n and the running cumulative hazard
    * H(t) = Σ_{t'≤t} d/n.
    *
    * Determinism: durations are whole days (exact integers); each hazard
    * increment is the ratio4 half-up quotient kept as an INTEGER
    * (floor((d·20000 + n)/2n) ≤ 20000) so the cumulative sum is exact
    * integer arithmetic — summing the rounded doubles instead would be
    * order-dependent (0.0001 is not binary-representable); both ratios
    * divide by 10⁴'s double exactly once per row. Nelson–Aalen is chosen
    * over Kaplan–Meier exactly because its estimator is a SUM (exactly
    * mirrorable) rather than a product (an inherently floating fold).
    *
    * Scale posture: ONE map-side-combined per-user shuffle reduces the
    * corpus to a duration histogram ≤ |observation window in days| rows;
    * the at-risk counts are a REVERSE cumulative sum over that bounded
    * frame (no single-row total broadcast needed) and the hazard
    * accumulates forward over the same frame — both global windows sit
    * post-Aggregate at calendar-bounded cardinality (bounded-global-
    * window allowlisted). */
  def q164(spark: SparkSession, sfDir: String): DataFrame =
    survivalHazard(Tables.events(spark, sfDir))

  /** q164 kernel on an arbitrary event frame (planted-data seam). */
  private[graft] def survivalHazard(ev: DataFrame): DataFrame =
    hazardOfSpans(userSpans(ev))

  /** Per-user observation spans (first event, first purchase, last
    * event) — every column an associative+commutative MIN/MAX partial,
    * which is what lets the s40 streaming maintainer accumulate them per
    * batch and merge at read with ANY-split parity. */
  private[graft] def userSpans(ev: DataFrame): DataFrame =
    ev.groupBy(col("user_id"))
      .agg(min(col("ts")).as("t0"),
        min(when(col("event_type") === "purchase", col("ts"))).as("tp"),
        max(col("ts")).as("tend"))

  /** Hazard finisher on a per-user (t0, tp, tend) span frame — the seam
    * s40 reads through, so stream and batch share one estimator. */
  private[graft] def hazardOfSpans(per: DataFrame): DataFrame = {
    val dur = per.select(
      when(col("tp").isNotNull, datediff(to_date(col("tp")), to_date(col("t0"))))
        .otherwise(datediff(to_date(col("tend")), to_date(col("t0")))).as("t_days"),
      col("tp").isNotNull.as("conv"))
    val h = dur.groupBy(col("t_days"))
      .agg(count(lit(1)).as("n_all"),
        sum(when(col("conv"), 1L).otherwise(0L)).as("n_conv"))
    val wRisk = Window.orderBy(col("t_days"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val wCum = Window.orderBy(col("t_days"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    h.withColumn("n_risk", sum(col("n_all")).over(wRisk))
      .filter(col("n_conv") > 0)
      .withColumn("hq",
        floor((col("n_conv").cast("double") * 20000.0 + col("n_risk")) /
          (col("n_risk").cast("double") * 2.0)).cast("long"))
      .select(col("t_days"), col("n_risk"), col("n_conv"),
        (col("hq") / 10000.0).as("hazard4"),
        (sum(col("hq")).over(wCum) / 10000.0).as("cumhaz4"))
      .orderBy(col("t_days"))
  }

  /** q169: signup→purchase conversion-latency quantiles — the "how long
    * does activation take?" read every product team tracks as p50/p90,
    * not a mean (latency tails are heavy by nature). Per user: the first
    * purchase AT OR AFTER the first signup (a purchase before the signup
    * never counts — the planted law pins that boundary); latency floors
    * to whole hours (exact integer division of epoch micros), and the
    * DISC p50/p90 read off the hour histogram (q156's discipline at
    * k = 2 and 10·cum ≥ 9·N), with the exact-ratio mean alongside.
    *
    * Scale posture: the signup reduction and the purchase⋈signup join
    * co-partition on user_id (one exchange each side, the per-user min
    * reuses the join's partitioning); everything after is the
    * hour-domain-bounded histogram — the cumulative window is global but
    * post-Aggregate at observation-window-hours cardinality
    * (bounded-global-window allowlisted). One-row output. */
  def q169(spark: SparkSession, sfDir: String): DataFrame =
    conversionLatency(Tables.events(spark, sfDir))

  /** q169 kernel on an arbitrary event frame (planted-data seam). */
  private[graft] def conversionLatency(ev: DataFrame): DataFrame = {
    val su = ev.filter(col("event_type") === "signup")
      .groupBy(col("user_id")).agg(min(col("ts")).as("ts_s"))
    val lat = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("ts_p"))
      .join(su, Seq("user_id"))
      .filter(col("ts_p") >= col("ts_s"))
      .groupBy(col("user_id"))
      .agg(min(unix_micros(col("ts_p")) - unix_micros(col("ts_s"))).as("lat_us"))
    // one Aggregate finishes the whole report: the kernel's total rides
    // the windowed frame, so no join and no second evaluation, and its
    // global window sits above the histogram Aggregate for the
    // reduced-frame plan pin
    val hist = lat.select(expr("lat_us div 3600000000").as("h"))
      .groupBy(col("h")).agg(count(lit(1)).as("cnt"))
    cumHist(hist, Nil, col("h"), col("cnt"))
      .agg(max(col("n")).as("n"), sum(col("h") * col("cnt")).as("sum_h"),
        disc(col("h"), 1, 2).as("p50_h"), disc(col("h"), 9, 10).as("p90_h"))
      .select(col("n").as("n_converted"), col("p50_h"), col("p90_h"),
        when(col("n") > 0, ratio4(col("sum_h"), col("n")))
          .otherwise(lit(null).cast("double")).as("mean_h4"))
  }
}
