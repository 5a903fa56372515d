package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ops.Dsl._
import graft.tables.Tables

/** Time-series / distribution statistics over the event log — the
  * monitoring layer a production ingest pipeline runs NEXT TO the
  * analytics queries: smoothing (q132), anomaly flags (q133), and
  * distribution-drift detection (q135). The reference has no statistical
  * monitoring at all (its consumer is a row-at-a-time poll loop,
  * consumer/consumer.go:95); these are the operators its event stream
  * would need the moment anyone asks "did yesterday look normal?".
  *
  * Determinism: every aggregate is exact integer / DECIMAL arithmetic
  * until one final IEEE op on identical operands (Dsl scaladoc D1–D5);
  * the one sequential float fold (q132's EWMA recursion) is order-pinned
  * on both engines exactly like q73's log-prob fold.
  */
object Stats {

  private def events(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)

  /** Per-(event_type, day) exact daily aggregate shared by q132/q133:
    * n (count) and the exact DECIMAL value sum. One shuffle of the event
    * stream with map-side partial aggregation; output cardinality is
    * types × days — bounded by the calendar, not the corpus. */
  def dailyOf(ev: DataFrame): DataFrame =
    ev.select(col("event_type"), to_date(date_trunc("day", col("ts"))).as("d"), col("value"))
      .groupBy(col("event_type"), col("d"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_v"))

  private def daily(spark: SparkSession, sfDir: String): DataFrame =
    dailyOf(events(spark, sfDir))

  /** The exact-integer carrier of the moment and rank kernels. */
  private def dec(x: Column): Column = x.cast("decimal(38,0)")

  /** q132 smoothing constant: EWMA decay (1 − α) = 3/4 — exactly
    * representable in binary, so the fold multiplies by the same double
    * both engines parsed. */
  val EwmaDecay = 0.75

  /** q132: per-type daily EWMA of the mean event value — the standard
    * adjusted exponentially-weighted average (the pandas `ewm(adjust=True)`
    * recursion): num_d = m_d + β·num_{d−1}, den_d = 1 + β·den_{d−1},
    * ewma_d = num_d / den_d with β = 1 − α. Decay steps over OBSERVED
    * days in order (a gap decays one step, not gap-many — documented
    * sequence semantics, mirrored by the oracle).
    *
    * Float discipline: m_d = exact-decimal-sum ÷ count (one IEEE division
    * of identical operands, bit-equal across engines), then BOTH folds run
    * sequentially in day order from a 0.0 seed — Spark `aggregate` over
    * the sorted prefix slice, DuckDB `list_reduce` over the same prefix
    * with a prepended DOUBLE seed — so every intermediate, and the final
    * quotient, is bit-identical. Outputs are deliberately UNROUNDED:
    * there is no libm wobble anywhere in this chain (q73's reason to
    * pre-round), and ROUND itself is the only hazard — a 2-dec daily sum
    * over 8 events lands EXACTLY on a 4-dec half-way boundary
    * (…/8 = x.xxxx5 terminating), where Spark's HALF_UP and DuckDB's
    * float-round disagree by construction. Bit-identical raw doubles
    * hash equal; rounding them can only break that.
    *
    * Scale posture: the fold runs on the (types × days) aggregate of
    * [[daily]], never on raw events — the O(days²) prefix slices are
    * calendar-bounded (≤ 31 here), and the one corpus-sized stage is
    * daily's single map-side-combined shuffle. At 100 TB the shape is
    * unchanged: the event stream reduces to the same calendar-bounded
    * frame before any per-row fold exists. */
  def q132(spark: SparkSession, sfDir: String): DataFrame =
    ewmaOf(daily(spark, sfDir))

  /** q132 core on a prepared [[dailyOf]] frame (planted-data seam). */
  def ewmaOf(dailyDf: DataFrame): DataFrame = {
    val perType = dailyDf
      .groupBy(col("event_type"))
      .agg(array_sort(collect_list(struct(col("d"), col("n"), col("sum_v")))).as("days"))
    val beta = lit(EwmaDecay)
    perType
      .select(col("event_type"), col("days"), posexplode(col("days")).as(Seq("p", "s")))
      .select(col("event_type"), col("s.d").as("d"), col("s.n").as("n"),
        (col("s.sum_v") / col("s.n").cast("double")).as("mean_value"),
        slice(transform(col("days"), x => x.getField("sum_v") / x.getField("n").cast("double")),
          lit(1), col("p") + 1).as("ms"))
      .select(col("event_type"), col("d"), col("n"), col("mean_value"),
        (aggregate(col("ms"), lit(0.0), (acc, v) => v + beta * acc) /
         aggregate(col("ms"), lit(0.0), (acc, _) => lit(1.0) + beta * acc)).as("ewma"))
      .orderBy(col("event_type"), col("d"))
  }

  /** q133 threshold: flag |z| > 2 — i.e. (D·n − S)² > 4·(D·Q − S²). */
  val SpikeZ = 2L

  /** q133: daily-volume anomaly flags — for each event type, each
    * observed day's event count against that type's own mean/stddev of
    * daily counts, the population z-score every volume monitor computes.
    * The spike PREDICATE is exact integer arithmetic end to end:
    * z² > Z²  ⟺  (D·n_d − S)² > Z²·(D·Q − S²)  with S = Σn, Q = Σn²
    * over the type's D observed days — both engines compare the same
    * BIGINTs, so the flag cannot wobble. The reported z itself is
    * (D·n_d − S) / √(D·Q − S²): one sqrt of an exact integer and one
    * IEEE division of identical operands — bit-identical across engines
    * and deliberately UNROUNDED (a perfect-square variance makes z a
    * terminating rational that can sit exactly on a ROUND boundary,
    * q132's hazard; σ = 0 ⇒ NULL z, no flag). Stats run over OBSERVED days (the event stream has no
    * zero-day at any shipped scale; semantics documented and mirrored).
    *
    * Scale posture: [[daily]]'s one map-side-combined shuffle, then a
    * calendar-bounded self-aggregate broadcast back — at 100 TB the
    * per-type stats frame is still ≤ types × 1 rows. The integer
    * arithmetic runs in DECIMAL(38,0) (r11 verdict item 4 — the BIGINT
    * form's ceiling was num² < 2⁶³, ~3·10⁹ events/day-year): exact
    * through num² and Z²·varInt < 10³⁸ — 10¹² events/day over decades —
    * and beyond THAT the session's ANSI mode makes decimal overflow
    * throw loudly instead of wrapping. Values are identical to the
    * BIGINT form everywhere both are exact (same integers, wider
    * carrier), so the DuckDB oracle is unchanged; the near-2⁶³ planted
    * law in StatsSpec exercises the regime BIGINT could not reach.
    * Decimal ops cost more per row than long ops, but this frame is
    * calendar-bounded — never corpus-scale. */
  def q133(spark: SparkSession, sfDir: String): DataFrame =
    spikesOf(daily(spark, sfDir))

  /** q133 core on a prepared [[dailyOf]] frame (planted-data seam). */
  def spikesOf(dailyDf: DataFrame): DataFrame = {
    val d = dailyDf.select(col("event_type"), col("d"), col("n"))
      // two consumers: the per-type stats aggregate and the flag join read
      // the same tiny frame (q104 shape — one evaluation for both sides)
    val pinned = pin(d)
    val nDec = col("n").cast("decimal(19,0)")
    val stats = pinned.groupBy(col("event_type"))
      .agg(count(lit(1)).cast("decimal(19,0)").as("nd"),
        sum(nDec).as("s"), sum(nDec * nDec).as("q"))
    val num = col("nd") * col("n").cast("decimal(19,0)") - col("s")
    val varInt = col("nd") * col("q") - col("s") * col("s")
    pinned.join(broadcast(stats), Seq("event_type"))
      .select(col("event_type"), col("d"), col("n"),
        when(varInt > 0, num.cast("double") / sqrt(varInt.cast("double")))
          .otherwise(lit(null).cast("double")).as("z"),
        (varInt > 0 && num * num > lit(SpikeZ * SpikeZ) * varInt).as("spike"))
      .orderBy(col("event_type"), col("d"))
  }

  /** q135: two-sample Kolmogorov–Smirnov distance between the value
    * distributions of every event-type pair — the drift test a data
    * pipeline runs between yesterday's feed and today's (here: between
    * the five event families). For step ECDFs the supremum is attained at
    * an observed value, so D = max over pooled distinct values v of
    * |F_a(v) − F_b(v)| — computed EXACTLY as integers:
    * |c_a(v)·n_b − c_b(v)·n_a| with c_i(v) = #{x_i ≤ v}, divided once at
    * the end by n_a·n_b (ratio4 — half-up from exact operands).
    *
    * Scale posture — the part that matters at 100 TB: the cumulative
    * counts are NOT a window over raw events. Values aggregate first to
    * per-(pair, value) counts (one map-side-combined shuffle; the event
    * stream's 2-decimal quantization bounds distinct values per pair to
    * ~33k REGARDLESS of corpus size), and the running sums then run over
    * that bounded frame — a single-task window per pair is a constant,
    * not a scaling risk. Each type's values are replicated once per
    * partner (T−1 = 4×), the standard all-pairs-of-few-groups fanout.
    * Overflow (r11 verdict item 4): the c·n products and the final
    * ratio run in DECIMAL(38,0) — the BIGINT form was exact only while
    * c·n < 2⁶³ (~3·10⁹ rows per type); the decimal carrier is exact
    * through c·n < 10³⁸ and ks_num·20000 < 10³⁸ (~10¹⁶ rows per type,
    * past any 100 TB corpus), with identical values wherever both are
    * exact (oracle unchanged) and loud ANSI overflow beyond. The decimal
    * ops run on the quantization-bounded per-(pair, value) frame —
    * never on corpus-scale rows. */
  def q135(spark: SparkSession, sfDir: String): DataFrame =
    ksOf(events(spark, sfDir))

  /** q135 core on any (event_type, value) frame (planted-data seam):
    * reduce to per-(type, value) counts FIRST — one map-side-combined
    * shuffle at quantization-bounded cardinality BEFORE the ×(T−1) pair
    * explosion ever sees a row (r12; the row-level form exploded first
    * and relied on the downstream combine) — then the weighted kernel. */
  def ksOf(evIn: DataFrame): DataFrame =
    ksOfCounts(evIn.select(col("event_type"), col("value"))
      .groupBy(col("event_type"), col("value"))
      .agg(count(lit(1)).as("cnt")))

  /** q135 kernel on a per-(event_type, value) COUNT frame — the seam the
    * s29 streaming drift monitor reads through (its store accumulates
    * exactly these counts additively), so stream and batch share one
    * drift definition by construction. */
  def ksOfCounts(counts: DataFrame): DataFrame = {
    val types = counts.select(col("event_type")).distinct()
    val pairs = types.select(col("event_type").as("type_a"))
      .crossJoin(types.select(col("event_type").as("type_b")))
      .filter(col("type_a") < col("type_b"))
    // pair membership exploded to an EQUI-join key (type_a,type_b,member):
    // each count row picks up its type's ≤ T−1 partner pairs through a
    // broadcast HASH join (an OR-condition join would plan as a
    // nested-loop); the frame is already quantization-bounded, so the
    // explosion is over counts, never raw rows
    val mem = pairs.select(col("type_a"), col("type_b"),
      explode(array(col("type_a"), col("type_b"))).as("event_type"))
    val tagged = counts.join(broadcast(mem), Seq("event_type"))
      .groupBy(col("type_a"), col("type_b"), col("value"))
      .agg(sum(when(col("event_type") === col("type_a"), col("cnt")).otherwise(0L)).as("ca1"),
        sum(when(col("event_type") === col("type_b"), col("cnt")).otherwise(0L)).as("cb1"))
    ksOfTagged(tagged)
  }

  /** q135 tail on a per-(pair, value) count frame
    * (type_a, type_b, value, ca1, cb1) — the seam the near-2⁶³ planted
    * law enters through: counts too large to reach via raw rows plant
    * here directly, exercising the DECIMAL products exactly where the
    * BIGINT form would have overflowed. */
  private[graft] def ksOfTagged(tagged: DataFrame): DataFrame = {
    // two consumers (cumulative window + per-pair totals) of one bounded
    // frame — one evaluation for both (q104 shape)
    val pinned = pin(tagged)
    val totals = pinned.groupBy(col("type_a"), col("type_b"))
      .agg(sum(col("ca1")).as("n_a"), sum(col("cb1")).as("n_b"))
    val w = Window.partitionBy(col("type_a"), col("type_b"))
      .orderBy(col("value")).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val dec: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
      _.cast("decimal(19,0)")
    pinned
      .select(col("type_a"), col("type_b"),
        sum(col("ca1")).over(w).as("ca"), sum(col("cb1")).over(w).as("cb"))
      .join(broadcast(totals), Seq("type_a", "type_b"))
      .groupBy(col("type_a"), col("type_b"))
      .agg(max(col("n_a")).as("n_a"), max(col("n_b")).as("n_b"),
        max(abs(dec(col("ca")) * dec(col("n_b")) - dec(col("cb")) * dec(col("n_a"))))
          .as("ks_num"))
      .select(col("type_a"), col("type_b"), col("n_a"), col("n_b"),
        ratio4dec(col("ks_num"), dec(col("n_a")) * dec(col("n_b"))).as("ks"))
      .orderBy(col("type_a"), col("type_b"))
  }

  /** q151: seasonal-naive period — the weekly cycle event traffic
    * actually has. */
  val SeasonLagDays = 7

  /** q151: seasonal-naive forecast baseline + error audit — the
    * monitoring layer's FORECAST leg next to q133's spike flags: predict
    * each day's per-type event count as the count [[SeasonLagDays]] days
    * earlier (the seasonal-naive baseline every anomaly system is judged
    * against before anyone ships a model), and report the error profile
    * per type: evaluated days, total actual volume, total absolute
    * error, MAE, and WAPE (weighted absolute percentage error —
    * Σ|err|/Σactual, the zero-proof form of MAPE). A day is evaluated
    * only when its lag-day was OBSERVED (calendar join, not row-offset
    * lag — a gap simply isn't scored, never scored against the wrong
    * day). All-integer until the two final ratio4s.
    *
    * Scale posture: everything downstream of [[dailyOf]]'s one map-side-
    * combined shuffle runs on the (types × days) calendar-bounded frame;
    * the forecast is a self-equi-join of that frame on (type, day)
    * (broadcast-eligible at its cardinality), never a window over raw
    * events. */
  def q151(spark: SparkSession, sfDir: String): DataFrame =
    seasonalBaseline(dailyOf(events(spark, sfDir)))

  /** q151 core on a (event_type, d, n) daily frame — split out so the
    * planted-periodicity law can exercise the zero-error identity. */
  private[graft] def seasonalBaseline(dailyIn: DataFrame): DataFrame = {
    // the daily aggregate feeds both join sides (q104 pinning discipline)
    val d = dailyIn.select(col("event_type"), col("d"), col("n"))
      .localCheckpoint(true)
    val fc = d.select(col("event_type"),
      date_add(col("d"), SeasonLagDays).as("d"), col("n").as("n_fc"))
    d.join(fc, Seq("event_type", "d"))
      .select(col("event_type"),
        col("n"), abs(col("n") - col("n_fc")).as("err"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_days"),
        sum(col("n")).as("total_actual"),
        sum(col("err")).as("total_abs_err"))
      .select(col("event_type"), col("n_days"), col("total_actual"),
        col("total_abs_err"),
        ratio4(col("total_abs_err"), col("n_days")).as("mae4"),
        when(col("total_actual") > 0,
          ratio4(col("total_abs_err"), col("total_actual")))
          .otherwise(lit(null).cast("double")).as("wape4"))
      .orderBy(col("event_type"))
  }

  /** q159: hourly OHLC bars — the open/high/low/close/volume rollup every
    * time-series store derives from a raw tick/event stream (the bar is
    * the unit a charting or trading layer reads; the reference's row-
    * at-a-time consumer has no temporal rollup at all). Per (event_type,
    * hour): the value of the FIRST event, the max, the min, the value of
    * the LAST event, the event count and the exact-decimal value sum.
    *
    * Determinism: first/last ride min/max over the struct (ts, event_id,
    * value) — (ts, event_id) is a unique total order (q27's discipline),
    * so the value field never participates in the comparison; high/low
    * are exact double comparisons; volume is [[dsum]]. The oracle mirrors
    * first/last as rank-1 rows of the same (ts, event_id) order.
    *
    * Scale posture: ONE map-side-combined shuffle on (type, hour) — every
    * aggregate here (min/max of struct, min/max, count, decimal sum) is
    * associative AND commutative, which is also exactly why the streamed
    * twin (s38, graft.streaming.BarStats) can maintain these bars from
    * per-batch partials with ANY-split parity: [[mergeBars]] is the one
    * shared merge. Output cardinality types × hours — calendar-bounded. */
  def q159(spark: SparkSession, sfDir: String): DataFrame =
    ohlcBars(events(spark, sfDir))

  /** q159 kernel on an arbitrary event frame (planted-data seam): the
    * per-(type, bar) partial aggregate. Emits the open/close carrier
    * STRUCTS (o, c) so [[finishBars]] and the s38 store share one partial
    * schema; n and the decimal sum ride alongside. */
  private[graft] def barPartials(ev: DataFrame): DataFrame =
    ev.select(col("event_type"), date_trunc("hour", col("ts")).as("bar_ts"),
        col("ts"), col("event_id"), col("value"))
      .groupBy(col("event_type"), col("bar_ts"))
      .agg(min(struct(col("ts"), col("event_id"), col("value"))).as("o"),
        max(struct(col("ts"), col("event_id"), col("value"))).as("c"),
        max(col("value")).as("high_v"), min(col("value")).as("low_v"),
        count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,4)")).as("sum_v"))

  /** Merge a bar-partial frame (s38's store holds one partial per batch)
    * back down to one row per (type, bar) — every column by its own
    * associative+commutative merge. A single-partial frame is a no-op. */
  private[graft] def mergeBars(partials: DataFrame): DataFrame =
    partials.groupBy(col("event_type"), col("bar_ts"))
      .agg(min(col("o")).as("o"), max(col("c")).as("c"),
        max(col("high_v")).as("high_v"), min(col("low_v")).as("low_v"),
        sum(col("n_events")).as("n_events"), sum(col("sum_v")).as("sum_v"))

  /** Project merged partials to the q159 report shape. */
  private[graft] def finishBars(merged: DataFrame): DataFrame =
    merged.select(col("event_type"), col("bar_ts"),
        col("o.value").as("open_v"), col("high_v"), col("low_v"),
        col("c.value").as("close_v"), col("n_events"),
        col("sum_v").cast("double").as("volume"))
      .orderBy(col("event_type"), col("bar_ts"))

  private[graft] def ohlcBars(ev: DataFrame): DataFrame =
    finishBars(barPartials(ev))

  /** q161 trailing moving-average width (days, inclusive of the day). */
  val FillMaDays = 7

  /** q161: calendar densification (gap fill) + trailing moving average —
    * the resample step every time-series pipeline runs before windowed
    * math: materialize ONE row per (event_type, calendar day) across the
    * log's global [min, max] day span, zero-filling unobserved days with
    * an `observed` flag, then the [[FillMaDays]]-day trailing mean over
    * the DENSE series. The densification is what makes a physical ROWS
    * window calendar-correct: over the observed-only frame (q140's
    * input), "last 7 rows" silently spans gaps — the bug this operator
    * exists to remove. The MA is ratio4 of window-exact integers (the
    * short left-edge frames divide by their own row count).
    *
    * Scale posture: [[dailyOf]]'s one map-side-combined shuffle is the
    * only corpus-sized stage; the span is a single-row broadcast (q114's
    * ref-date shape, NoCartesian-allowlisted), the calendar explode and
    * the left join run on the (types × days) bounded frame, and the MA
    * window is PARTITIONED by type. At 100 TB the dense frame is still
    * calendar-bounded. */
  def q161(spark: SparkSession, sfDir: String): DataFrame =
    calendarFill(dailyOf(events(spark, sfDir)))

  /** q161 core on a (event_type, d, n) daily frame (planted-data seam). */
  private[graft] def calendarFill(dailyIn: DataFrame): DataFrame = {
    // one evaluation feeds the span aggregate, the type list and the
    // join's right side (q104 pinning discipline)
    val d = pin(dailyIn.select(col("event_type"), col("d"), col("n")))
    val span = d.agg(min(col("d")).as("d0"), max(col("d")).as("d1"))
    val calendar = d.select(col("event_type")).distinct()
      .join(broadcast(span))
      .select(col("event_type"),
        explode(sequence(col("d0"), col("d1"), expr("interval 1 day"))).as("d"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("d"))
      .rowsBetween(-(FillMaDays - 1), 0)
    calendar.join(d, Seq("event_type", "d"), "left_outer")
      .select(col("event_type"), col("d"),
        coalesce(col("n"), lit(0L)).as("n"), col("n").isNotNull.as("observed"))
      .select(col("event_type"), col("d"), col("n"), col("observed"),
        ratio4(sum(col("n")).over(w), count(lit(1)).over(w)).as("ma4"))
      .orderBy(col("event_type"), col("d"))
  }

  /** q162 outlier fence: flag |n − median| > [[MadFenceK]] · MAD. */
  val MadFenceK = 3L

  /** q162: robust (median/MAD) daily-volume outliers — q133's z-score
    * flags re-derived with the estimator monitoring systems actually
    * trust under contamination: a single monster day inflates the mean
    * AND the stddev enough to hide itself from a z-test (masking), while
    * the median and the median-absolute-deviation have a 50% breakdown
    * point. Per type: the DISC median of daily counts, the DISC median
    * of |n − median|, and the fence flag |n − median| > k·MAD — ALL
    * INTEGER end to end (counts are integers, medians of integers are
    * attained values, the fence is an integer comparison): no float
    * exists anywhere in this query, so the oracle cannot wobble.
    *
    * DISC discipline: median = smallest v with 2·cum(v) ≥ N per type
    * ([[graft.ops.Dsl.disc]] at 1/2 over the daily rows). MAD = 0 (more
    * than half the days identical) degenerates the fence to "any
    * deviation flags"; documented, mirrored, and exercised by the
    * planted law.
    *
    * Scale posture: [[dailyOf]] shuffles once; the cumulative windows
    * (PARTITIONED by type) and both median joins run on
    * calendar-bounded frames — at 100 TB nothing after the first
    * exchange sees corpus-scale rows. */
  def q162(spark: SparkSession, sfDir: String): DataFrame =
    madOutliers(dailyOf(events(spark, sfDir)))

  /** q162 core on a (event_type, d, n) daily frame (planted-data seam). */
  private[graft] def madOutliers(dailyIn: DataFrame): DataFrame = {
    def median(df: DataFrame, v: String, out: String): DataFrame =
      discPanel(df.select(col("event_type"), col(v).as("v"), lit(1L).as("cnt")), "v", (1, 2, out))
    // the daily frame feeds the median and the deviation pass, and the
    // deviation frame feeds the MAD and the final report (q104 pinning
    // discipline)
    val d = pin(dailyIn.select(col("event_type"), col("d"), col("n")))
    val med = median(d, "n", "med")
    val dev = pin(d.join(broadcast(med), Seq("event_type"))
      .withColumn("dev", abs(col("n") - col("med"))))
    val mad = median(dev, "dev", "mad")
    dev.join(broadcast(mad), Seq("event_type"))
      .select(col("event_type"), col("d"), col("n"), col("med"), col("mad"),
        (col("dev") > lit(MadFenceK) * col("mad")).as("outlier"))
      .orderBy(col("event_type"), col("d"))
  }

  /** q167 smoothing constants — both exactly representable in binary, so
    * the fold multiplies by the same doubles both engines parsed. */
  val HoltAlpha = 0.5
  val HoltBeta = 0.25

  /** q167: Holt linear-trend smoothing — the double-exponential
    * forecaster next to q132's EWMA (level only) and q151's seasonal
    * naive: per type, the classic recursion l_k = α·m_k +
    * (1−α)(l_{k−1} + b_{k−1}), b_k = β(l_k − l_{k−1}) + (1−β)b_{k−1}
    * over the daily mean values in day order (l_1 = m_1, b_1 = 0), with
    * the one-step-ahead forecast l + b per day. The operator a capacity
    * planner reads when traffic has a direction, not just a level.
    *
    * Float discipline (q132's family): m_k = exact-decimal-sum ÷ count;
    * both engines run the SAME sequential fold in day order — the engine
    * as a struct-accumulator `aggregate` over each day's prefix slice,
    * the oracle as a recursive CTE stepping k → k+1 — and b's reference
    * to the new level is RECOMPUTED as the identical expression on both
    * sides (IEEE evaluation is deterministic, so recompute ≡ reuse
    * bit-for-bit). Outputs ship UNROUNDED (q132's boundary argument: no
    * libm wobble exists in +·×÷, ROUND itself is the only hazard). Gaps
    * decay one step, not gap-many (sequence semantics, mirrored).
    *
    * Scale posture: identical to q132 — the fold runs on the
    * (types × days) aggregate of [[dailyOf]], never raw events; the
    * O(days²) prefix slices are calendar-bounded. */
  def q167(spark: SparkSession, sfDir: String): DataFrame =
    holtOf(daily(spark, sfDir))

  /** q167 core on a prepared [[dailyOf]] frame (planted-data seam). */
  private[graft] def holtOf(dailyDf: DataFrame): DataFrame = {
    val perType = dailyDf
      .groupBy(col("event_type"))
      .agg(array_sort(collect_list(struct(col("d"), col("n"), col("sum_v")))).as("days"))
    val a = lit(HoltAlpha); val b = lit(HoltBeta)
    type C = org.apache.spark.sql.Column
    val seed = struct(lit(0.0).as("l"), lit(0.0).as("b"), lit(false).as("s"))
    def step(acc: C, m: C): C = {
      val lNew = when(!acc.getField("s"), m)
        .otherwise(a * m + (lit(1.0) - a) * (acc.getField("l") + acc.getField("b")))
      val bNew = when(!acc.getField("s"), lit(0.0))
        .otherwise(b * (lNew - acc.getField("l")) +
          (lit(1.0) - b) * acc.getField("b"))
      struct(lNew.as("l"), bNew.as("b"), lit(true).as("s"))
    }
    perType
      .select(col("event_type"), col("days"), posexplode(col("days")).as(Seq("p", "sd")))
      .select(col("event_type"), col("sd.d").as("d"), col("sd.n").as("n"),
        (col("sd.sum_v") / col("sd.n").cast("double")).as("mean_value"),
        slice(transform(col("days"), x => x.getField("sum_v") / x.getField("n").cast("double")),
          lit(1), col("p") + 1).as("ms"))
      .select(col("event_type"), col("d"), col("n"), col("mean_value"),
        aggregate(col("ms"), seed, step).as("h"))
      .select(col("event_type"), col("d"), col("n"), col("mean_value"),
        col("h.l").as("level"), col("h.b").as("trend"),
        (col("h.l") + col("h.b")).as("forecast_next"))
      .orderBy(col("event_type"), col("d"))
  }

  /** q165 significance fence: χ² > 3.8416 (= 1.96², the two-sided 5%
    * normal cutoff — the two-proportion z² IS the 2×2 chi-square), held
    * as the integer 38416 against 10⁴·χ²'s exact rational form. */
  val ChisqCrit10k = 38416L

  /** q165: A/B experiment readout — users hash-split into two variants
    * (user_id mod 2, the deterministic assignment every experimentation
    * platform derives from a stable ID), conversion = the user purchased
    * at least once, and the 2×2 chi-square test of independence between
    * variant and conversion: χ² = N·(ad − bc)² / (r₁·r₂·c₁·c₂) — the
    * identical statistic to the two-proportion z² test, chosen because
    * it is a RATIO OF INTEGER PRODUCTS: the significance fence
    * N·(ad−bc)²·10⁴ > 38416·(r₁r₂c₁c₂) is exact integer arithmetic
    * (DECIMAL(38,0) carriers — the cross products pass 2⁵³ at ~10⁵
    * users), so the yes/no every dashboard shows cannot wobble. The
    * reported χ² itself is the ratio4dec half-up quotient; conversion
    * rates are ratio4.
    *
    * Degenerates (documented, mirrored): an all-converted or
    * zero-converted corpus (or an empty variant) zeroes a margin →
    * NULL χ², not significant.
    *
    * Scale posture: ONE map-side-combined per-user shuffle (max of a
    * 0/1 flag), then a single global aggregate whose partials are four
    * longs per task — the whole test is two exchanges and a one-row
    * output at any corpus size. */
  def q165(spark: SparkSession, sfDir: String): DataFrame =
    abChisq(events(spark, sfDir))

  /** q165 kernel on an arbitrary event frame (planted-data seam). */
  private[graft] def abChisq(ev: DataFrame): DataFrame =
    chisqOfConv(userConv(ev))

  /** Per-user conversion flags — a MAX partial (associative +
    * commutative), which is what lets the s42 streaming maintainer
    * accumulate them per batch and merge at read. */
  private[graft] def userConv(ev: DataFrame): DataFrame =
    ev.groupBy(col("user_id"))
      .agg(max(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("conv"))

  /** Chi-square finisher on a per-user (user_id, conv) frame — the seam
    * s42 reads through, so stream and batch share one test. */
  private[graft] def chisqOfConv(perUser: DataFrame): DataFrame = {
    // pmod (always-nonnegative) — the oracle mirrors with
    // (user_id % 2 + 2) % 2 so a negative id lands in the SAME variant
    // on both engines (advisor r14: DuckDB's % keeps the dividend's sign)
    val per = perUser.select(pmod(col("user_id"), lit(2)).as("variant"), col("conv"))
    val c = per.agg(
      sum(when(col("variant") === 0, 1L).otherwise(0L)).as("n_a"),
      sum(when(col("variant") === 0, col("conv")).otherwise(0L)).as("conv_a"),
      sum(when(col("variant") === 1, 1L).otherwise(0L)).as("n_b"),
      sum(when(col("variant") === 1, col("conv")).otherwise(0L)).as("conv_b"))
    val adbc = dec(col("conv_a")) * dec(col("n_b") - col("conv_b")) -
      dec(col("n_a") - col("conv_a")) * dec(col("conv_b"))
    val num = dec(col("n_a") + col("n_b")) * adbc * adbc
    val den = dec(col("n_a")) * dec(col("n_b")) *
      dec(col("conv_a") + col("conv_b")) *
      dec(col("n_a") + col("n_b") - col("conv_a") - col("conv_b"))
    c.select(col("n_a"), col("conv_a"), col("n_b"), col("conv_b"),
      when(col("n_a") > 0, ratio4(col("conv_a"), col("n_a")))
        .otherwise(lit(null).cast("double")).as("cr_a4"),
      when(col("n_b") > 0, ratio4(col("conv_b"), col("n_b")))
        .otherwise(lit(null).cast("double")).as("cr_b4"),
      when(den > 0, ratio4dec(num, den))
        .otherwise(lit(null).cast("double")).as("chi2_4"),
      (den > 0 && num * lit(10000).cast("decimal(5,0)") > lit(ChisqCrit10k) * den)
        .as("significant"))
  }

  /** The cent histogram (event_type, cents, cnt) under the robust value
    * statistics (q168, q182, q188) from a per-(event_type, value) COUNT
    * frame: counts re-aggregated by exact cents (DECIMAL(12,2)·100,
    * q156's carrier — distinct raw values that quantize to one cent
    * merge), pinned because the quantile panel and the final conditional
    * aggregate both read it (q104 pinning discipline). */
  private def centsHist(counts: DataFrame): DataFrame =
    pin(counts
      .select(col("event_type"),
        (col("value").cast("decimal(12,2)") * 100).cast("long").as("cents"),
        col("cnt"))
      .groupBy(col("event_type"), col("cents"))
      .agg(sum(col("cnt")).as("cnt")))

  /** The per-type DISC panel of a (event_type, v, cnt) histogram: one
    * row per type with each of `qs` (k, d, out) as [[graft.ops.Dsl.disc]]. */
  private def discPanel(h: DataFrame, v: String, qs: (Int, Int, String)*): DataFrame = {
    val outs = qs.map { case (k, d, out) => disc(col(v), k, d).as(out) }
    cumHist(h, Seq(col("event_type")), col(v), col("cnt"))
      .groupBy(col("event_type")).agg(outs.head, outs.tail: _*)
  }

  /** q168: Tukey box-plot summary + IQR fence outlier counts per event
    * type over the VALUE distribution — the five-number profile (DISC
    * quartiles) and the 1.5·IQR outlier rule every EDA/monitoring layer
    * computes, complementing q162 (daily-count MAD) with the per-event
    * value axis. ALL INTEGER: values quantize to exact cents
    * (DECIMAL(12,2)·100, q156's carrier), DISC quartiles are attained
    * cent values read off histograms (smallest v with 4·cum ≥ k·N), and
    * the fences multiply through by 2 so 1.5·IQR never leaves the
    * integers: v is a low outlier iff 2v < 2·q1 − 3·IQR, high iff
    * 2v > 2·q3 + 3·IQR.
    *
    * Scale posture: ONE map-side-combined histogram shuffle — the
    * stream's 2-dec quantization bounds distinct cents per type
    * REGARDLESS of corpus size (q135's argument); cumulative windows
    * PARTITIONED by type over the bounded histogram; the 3-quartile
    * panel broadcasts back into one conditional count over the same
    * histogram (never the raw rows). */
  def q168(spark: SparkSession, sfDir: String): DataFrame =
    iqrOutliers(events(spark, sfDir))

  /** q168 kernel on an arbitrary (event_type, value) frame: reduce to
    * per-(type, value) counts FIRST (the same frame the s29 drift store
    * accumulates — which is what makes s45 a free second read of that
    * store), then the quartile machinery. */
  private[graft] def iqrOutliers(ev: DataFrame): DataFrame =
    iqrOfValueCounts(ev.select(col("event_type"), col("value"))
      .groupBy(col("event_type"), col("value"))
      .agg(count(lit(1)).as("cnt")))

  /** q168 kernel on a per-(event_type, value) COUNT frame — the seam the
    * s45 streaming read enters through, so stream and batch share one
    * quartile/fence definition by construction. */
  private[graft] def iqrOfValueCounts(counts: DataFrame): DataFrame = {
    val h = centsHist(counts)
    val panel = discPanel(h, "cents", (1, 4, "q1_c"), (2, 4, "med_c"), (3, 4, "q3_c"))
    h.join(broadcast(panel), Seq("event_type"))
      .groupBy(col("event_type"))
      .agg(sum(col("cnt")).as("n"),
        max(col("q1_c")).as("q1_c"), max(col("med_c")).as("med_c"),
        max(col("q3_c")).as("q3_c"),
        sum(when(col("cents") * 2 <
            col("q1_c") * 2 - (col("q3_c") - col("q1_c")) * 3, col("cnt"))
          .otherwise(0L)).as("n_low"),
        sum(when(col("cents") * 2 >
            col("q3_c") * 2 + (col("q3_c") - col("q1_c")) * 3, col("cnt"))
          .otherwise(0L)).as("n_high"))
      .withColumn("iqr_c", col("q3_c") - col("q1_c"))
      .select(col("event_type"), col("n"), col("q1_c"), col("med_c"),
        col("q3_c"), col("iqr_c"), col("n_low"), col("n_high"))
      .orderBy(col("event_type"))
  }

  /** q182: WINSORIZED value statistics per event type — the robust-mean
    * profile every metrics/feature pipeline computes when raw means are
    * tail-hostage: clip the value distribution at its own DISC p05/p95
    * cent quantiles (smallest v with 20·cum ≥ k·n, k = 1 and 19 — q168's
    * attained-value discipline at the 5% tails), then the clipped count,
    * sum and 4-dec mean. ALL INTEGER until the one ratio4dec quotient:
    * cents are exact (q156's DECIMAL(12,2)·100 carrier), the clamp is
    * integer min/max against the broadcast boundary panel, and the
    * winsorized sum is Σ cnt·clamp(cents) in long.
    *
    * Scale posture: q168's shape verbatim — ONE map-side-combined
    * histogram shuffle (the 2-dec value grid bounds distinct cents per
    * type regardless of corpus size), type-PARTITIONED cumulative
    * windows over the bounded histogram, and the 2-boundary panel
    * broadcasts back into one conditional aggregate over the same
    * histogram; the raw rows are read exactly once. */
  def q182(spark: SparkSession, sfDir: String): DataFrame =
    winsorizedStats(events(spark, sfDir))

  /** q182 kernel on an arbitrary (event_type, value) frame — reduce to
    * per-(type, value) counts first (the s29 drift-store frame, which is
    * what makes the s55 streaming read of this statistic a free extra
    * read of that store — DriftMonitor.winsorized). */
  private[graft] def winsorizedStats(ev: DataFrame): DataFrame =
    winsorizedOfValueCounts(ev.select(col("event_type"), col("value"))
      .groupBy(col("event_type"), col("value"))
      .agg(count(lit(1)).as("cnt")))

  /** q182 kernel on a per-(event_type, value) COUNT frame (the s29-store
    * seam, like [[iqrOfValueCounts]]). */
  private[graft] def winsorizedOfValueCounts(counts: DataFrame): DataFrame = {
    val h = centsHist(counts)
    val panel = discPanel(h, "cents", (1, 20, "lo_c"), (19, 20, "hi_c"))
    val clamped = greatest(least(col("cents"), col("hi_c")), col("lo_c"))
    h.join(broadcast(panel), Seq("event_type"))
      .groupBy(col("event_type"))
      .agg(sum(col("cnt")).as("n"),
        max(col("lo_c")).as("lo_c"), max(col("hi_c")).as("hi_c"),
        sum(when(col("cents") < col("lo_c"), col("cnt")).otherwise(0L)).as("n_lo"),
        sum(when(col("cents") > col("hi_c"), col("cnt")).otherwise(0L)).as("n_hi"),
        sum(col("cnt") * clamped).as("wsum_c"))
      .withColumn("wmean_c4", graft.ops.Dsl.ratio4dec(col("wsum_c"), col("n")))
      .select(col("event_type"), col("n"), col("lo_c"), col("hi_c"),
        col("n_lo"), col("n_hi"), col("wsum_c"), col("wmean_c4"))
      .orderBy(col("event_type"))
  }

  /** q188: MEDIAN + MAD robust dispersion per event type — the third
    * member of the robust-statistics family (q168 IQR fences, q182
    * winsorized mean): the median absolute deviation is THE robust scale
    * estimate (breakdown point 50 % where IQR's is 25 %), and
    * |x − med| > 3·MAD is the robust z-score outlier rule every metrics
    * pipeline reaches for when the Tukey fence is too loose. ALL
    * INTEGER: exact cents (q156's DECIMAL(12,2)·100 carrier), the
    * median and the MAD are DISC attained values (smallest value with
    * 2·cum ≥ n — q168's quartile discipline applied twice: once to the
    * cent histogram, once to the |cents − med| deviation histogram
    * derived from it), and the flagged count is an integer conditional
    * sum. Output (event_type, n, med_c, mad_c, n_far) — no ratios, no
    * doubles anywhere.
    *
    * Scale posture: ONE map-side-combined histogram shuffle (the q168
    * shape — the 2-dec value grid bounds distinct cents per type
    * regardless of corpus size); the deviation histogram DERIVES from
    * the bounded histogram (grid-cardinality rows, no corpus re-read);
    * type-PARTITIONED cumulative windows on both; the two single-value
    * panels broadcast back into one conditional aggregate over the same
    * histogram. The raw rows are read exactly once. */
  def q188(spark: SparkSession, sfDir: String): DataFrame =
    madStats(events(spark, sfDir))

  /** q188 kernel on an arbitrary (event_type, value) frame — reduce to
    * per-(type, value) counts first (the s29 drift-store frame, which
    * is what makes the s57 streaming read of this statistic the
    * store's fifth free read — DriftMonitor.mad). */
  private[graft] def madStats(ev: DataFrame): DataFrame =
    madOfValueCounts(ev.select(col("event_type"), col("value"))
      .groupBy(col("event_type"), col("value"))
      .agg(count(lit(1)).as("cnt")))

  /** q188 kernel on a per-(event_type, value) COUNT frame (the s29-store
    * seam, like [[iqrOfValueCounts]]/[[winsorizedOfValueCounts]]). */
  private[graft] def madOfValueCounts(counts: DataFrame): DataFrame = {
    val h = centsHist(counts)
    val med = discPanel(h, "cents", (1, 2, "med_c"))
    // the deviation histogram is the cent histogram keyed by |cents − med|;
    // symmetric deviations stay separate rows, which the kernel counts
    // as one tie
    val dev = h.join(broadcast(med), Seq("event_type"))
      .withColumn("dv", abs(col("cents") - col("med_c")))
    val mad = discPanel(dev, "dv", (1, 2, "mad_c"))
    dev.join(broadcast(mad), Seq("event_type"))
      .groupBy(col("event_type"))
      .agg(sum(col("cnt")).as("n"),
        max(col("med_c")).as("med_c"), max(col("mad_c")).as("mad_c"),
        sum(when(col("dv") > col("mad_c") * 3, col("cnt"))
          .otherwise(0L)).as("n_far"))
      .select(col("event_type"), col("n"), col("med_c"), col("mad_c"),
        col("n_far"))
      .orderBy(col("event_type"))
  }

  /** q189: Theil–Sen robust trend — the slope estimator that belongs
    * next to q162's median/MAD (level + dispersion → this is the robust
    * DIRECTION): per type, the median over all day pairs i < j of the
    * pairwise slope (n_j − n_i)/(d_j − d_i) on the daily-count series.
    * Where q167's Holt trend is a smoother a single monster day can
    * bend, Theil–Sen has a 29.3% breakdown point — the slope a capacity
    * planner trusts under contamination (Sen 1968; the reference has no
    * statistical layer at all, SURVEY §2 note).
    *
    * Exactness: each slope is ONE IEEE division of exact integers
    * (Δcount, Δdays — bit-identical in both engines), and the double is
    * a CANONICAL key for the rational it rounds from: denominators are
    * calendar-bounded (Δdays ≤ span), so two distinct slopes differ by
    * ≥ 1/span² ≈ 6·10⁻⁶ while double spacing at any plausible |slope|
    * (≤ 10⁹ even at 100 TB daily volumes) is ≤ 2·10⁻⁷ — distinct
    * rationals get distinct doubles, equal rationals get THE double.
    * Grouping/ordering by the double is therefore exact, and the DISC
    * median (smallest s with 2·cum ≥ n_pairs — q162's discipline) is an
    * attained slope, shipped unrounded (q132's boundary argument: the
    * one division is correctly rounded from identical operands; ROUND
    * itself would be the only hazard). Types with a single observed day
    * have no pairs and drop out (documented, mirrored).
    *
    * Scale posture: [[dailyOf]] is the ONE corpus-sized shuffle; the
    * pair self-join runs on the types × days panel (calendar-bounded —
    * days² pairs per type is a CONSTANT in corpus size, the whole point
    * of pairing AFTER the daily reduction), and the median's
    * type-partitioned cumulative window runs on that bounded frame. */
  def q189(spark: SparkSession, sfDir: String): DataFrame =
    theilSenOf(dailyOf(events(spark, sfDir)))

  /** q189 core on a (event_type, d, n) daily frame (planted-data seam;
    * also the s58 read of the s36 SeasonalMonitor store). */
  private[graft] def theilSenOf(dailyIn: DataFrame): DataFrame = {
    // one evaluation feeds both sides of the pair join and the day count
    // (q104 pinning discipline)
    val d = pin(dailyIn.select(col("event_type"), col("d"), col("n")))
    val pairs = d.as("a").join(d.as("b"),
        col("a.event_type") === col("b.event_type") && col("b.d") > col("a.d"))
      .select(col("a.event_type").as("event_type"),
        ((col("b.n") - col("a.n")).cast("double") /
          datediff(col("b.d"), col("a.d")).cast("double")).as("s"))
    // one pass over the pairs: the kernel's total is the pair count
    val med = cumHist(pairs, Seq(col("event_type")), col("s"), lit(1L))
      .groupBy(col("event_type"))
      .agg(max(col("n")).as("n_pairs"), disc(col("s"), 1, 2).as("slope"))
    d.groupBy(col("event_type")).agg(count(lit(1)).as("n_days"))
      .join(med, Seq("event_type"))
      .select(col("event_type"), col("n_days"), col("n_pairs"), col("slope"))
      .orderBy(col("event_type"))
  }

  /** q190: Kendall rank correlation (tau-a) between every pair of event
    * types' daily-count series — the RANK companion to q171's Pearson
    * matrix: Pearson asks "do the volumes move together linearly",
    * Kendall asks the monotone question a heavy-tailed count series
    * actually supports ("when type A has a bigger day, does type B?"),
    * immune to any monotone transform of either series. Series align on
    * COMMON observed days (inner alignment — a day one type missed
    * carries no rank information about the other; documented,
    * mirrored); per aligned day pair i < j, concordant means the two
    * deltas share a strict sign, discordant means they oppose; ties on
    * either axis count as neither (tau-a). tau4 = half-up 4-dec
    * (nc − nd)/n_pairs via the shared [[graft.ops.Dsl.ratio4]] —
    * ALL-INTEGER until that one mirrored quotient. Type pairs with
    * fewer than two common days have no day pairs and drop out.
    *
    * Scale posture: after [[dailyOf]]'s one corpus shuffle, the
    * day-alignment join and the day-pair join both run on calendar- and
    * type-bounded panels (types²·days² rows is a constant in corpus
    * size); sign counting is one map-side-combined aggregate. */
  def q190(spark: SparkSession, sfDir: String): DataFrame =
    kendallOf(dailyOf(events(spark, sfDir)))

  /** q190 core on a (event_type, d, n) daily frame (planted-data seam;
    * also the s59 read of the s36 SeasonalMonitor store). */
  private[graft] def kendallOf(dailyIn: DataFrame): DataFrame = {
    val d = pin(dailyIn.select(col("event_type"), col("d"), col("n")))
    // inner day alignment, canonical pair order type_a < type_b
    val aligned = pin(d.as("x").join(d.as("y"),
        col("x.d") === col("y.d") && col("x.event_type") < col("y.event_type"))
      .select(col("x.event_type").as("type_a"), col("y.event_type").as("type_b"),
        col("x.d").as("d"), col("x.n").as("na"), col("y.n").as("nb")))
    val nDays = aligned.groupBy(col("type_a"), col("type_b"))
      .agg(count(lit(1)).as("n_days"))
    aligned.as("i").join(aligned.as("j"),
        col("i.type_a") === col("j.type_a") && col("i.type_b") === col("j.type_b") &&
          col("j.d") > col("i.d"))
      // strict sign agreement — no products, so no overflow class exists
      .select(col("i.type_a").as("type_a"), col("i.type_b").as("type_b"),
        (col("j.na") > col("i.na")).as("au"), (col("j.na") < col("i.na")).as("ad"),
        (col("j.nb") > col("i.nb")).as("bu"), (col("j.nb") < col("i.nb")).as("bd"))
      .groupBy(col("type_a"), col("type_b"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(when((col("au") && col("bu")) || (col("ad") && col("bd")), 1L)
          .otherwise(0L)).as("nc"),
        sum(when((col("au") && col("bd")) || (col("ad") && col("bu")), 1L)
          .otherwise(0L)).as("nd"))
      .join(nDays, Seq("type_a", "type_b"))
      .select(col("type_a"), col("type_b"), col("n_days"), col("n_pairs"),
        col("nc"), col("nd"),
        ratio4(col("nc") - col("nd"), col("n_pairs")).as("tau4"))
      .orderBy(col("type_a"), col("type_b"))
  }

  /** q191: Mann–Kendall trend test — the significance TEST to q189's
    * Theil–Sen estimator (the two are the textbook pairing: MK decides
    * whether a monotone trend exists, Theil–Sen says how steep): per
    * type, S = Σ_{i<j} sign(n_j − n_i) over the day-ordered daily
    * counts, the tie-corrected variance 18·Var(S) = n(n−1)(2n+5) −
    * Σ_g t_g(t_g−1)(2t_g+5), and the two-sided 95% decision with
    * continuity correction.
    *
    * Exactness (q165's fence discipline — no sqrt anywhere): the z
    * test |S|−1 > 1.96·√Var(S) is EQUIVALENT to the all-integer fence
    * 180000·(|S|−1)² > 38416·var18 (square both sides; 1.96² = 3.8416
    * exactly, Var = var18/18), so S, var18 and the verdict are exact
    * integers/booleans end to end — the oracle cannot wobble. The
    * squared products run in DECIMAL(38,0) (HUGEINT in the mirror):
    * at n days the fence operand reaches ~n⁴·4.5·10⁴, past signed-64
    * near n ≈ 5000 — decimal keeps the fence exact at any horizon
    * instead of failing at 13 years of daily data. |S| ≤ 1 is never
    * trending (the continuity correction's own boundary). Types with
    * a single observed day have no pairs and drop out (q189's rule).
    *
    * Scale posture: identical to q189 — dailyOf's one corpus shuffle,
    * then a calendar-bounded pair panel and two type-keyed
    * aggregates. */
  def q191(spark: SparkSession, sfDir: String): DataFrame =
    mannKendallOf(dailyOf(events(spark, sfDir)))

  /** q191 core on a (event_type, d, n) daily frame (planted-data seam;
    * also the s60 read of the s36 SeasonalMonitor store). */
  private[graft] def mannKendallOf(dailyIn: DataFrame): DataFrame = {
    val d = pin(dailyIn.select(col("event_type"), col("d"), col("n")))
    val s = d.as("a").join(d.as("b"),
        col("a.event_type") === col("b.event_type") && col("b.d") > col("a.d"))
      .groupBy(col("a.event_type").as("event_type"))
      .agg(sum(when(col("b.n") > col("a.n"), 1L)
        .when(col("b.n") < col("a.n"), -1L).otherwise(0L)).as("s_stat"))
    val ties = d.groupBy(col("event_type"), col("n"))
      .agg(count(lit(1)).as("t"))
      .groupBy(col("event_type"))
      .agg(sum(col("t") * (col("t") - 1) * (col("t") * 2 + 5)).as("tt"),
        sum(col("t")).as("n_days"))
    val sm1 = (abs(col("s_stat")) - 1).cast("decimal(38,0)")
    val trendCond = abs(col("s_stat")) > 1 &&
      sm1 * sm1 * lit(180000).cast("decimal(6,0)") >
        col("var18").cast("decimal(38,0)") * lit(38416).cast("decimal(5,0)")
    ties.join(s, Seq("event_type"))
      .withColumn("var18",
        col("n_days") * (col("n_days") - 1) * (col("n_days") * 2 + 5) - col("tt"))
      .withColumn("trending", trendCond)
      .select(col("event_type"), col("n_days"), col("s_stat"), col("var18"),
        col("trending"),
        when(col("trending") && col("s_stat") > 0, "up")
          .when(col("trending") && col("s_stat") < 0, "down")
          .otherwise("none").as("direction"))
      .orderBy(col("event_type"))
  }

  /** q184 replicate count — 40 keeps the DISC 2.5%/97.5% order stats at
    * exactly the 1st and 39th replicate mean (0.025·40 = 1). */
  val BootB = 40

  /** q184: DETERMINISTIC POISSON-BOOTSTRAP confidence interval for the
    * per-type mean value — the experimentation family's missing CI
    * primitive (q165 tests a difference; this bounds a level). Classic
    * distributed bootstrap (Poisson(1) weights approximate multinomial
    * resampling when n is large — the only bootstrap that runs in ONE
    * pass with no global coordination, which is why every large-scale
    * A/B platform uses it): replicate b draws row i with weight
    * w = F⁻¹_Poisson(1)(u), u = (h60(event_id) + b·5761) mod 10⁴ — ONE
    * content hash per row, rotated per replicate by a grid-coprime
    * offset — fully deterministic and EXACTLY mirrorable, unlike
    * rand(). The weight ladder is the inverse CDF on the integer grid
    * u ∈ [0, 10000): 3679/7358/9197/9810/9963 (e⁻¹ partial sums ×10⁴),
    * truncated at w = 5 (P(w ≥ 6) ≈ 6·10⁻⁴ — a documented spec choice
    * both engines implement identically, not an approximation drift).
    * Replicate means are ratio4dec half-up quotients of exact integer
    * sums; the CI is the DISC 2.5%/97.5% order statistics over the B
    * replicate means (smallest mean with B·cum ≥ n_reps·k, k = 1/39,
    * [[graft.ops.Dsl.disc]]; tied means are one attained value).
    *
    * Scale posture: the B-fold explode is map-side COMPUTE fan-out, not
    * data movement — each task folds its replicate partials locally and
    * the one shuffle carries ≤ types × B partial rows (the textbook
    * distributed-bootstrap shape); the cumulative window sits on a
    * ≤ B-row per-type panel. */
  def q184(spark: SparkSession, sfDir: String): DataFrame =
    bootstrapCi(events(spark, sfDir))

  /** q184 kernel on an arbitrary (event_type, event_id, value) frame
    * (planted-data seam). `indepMix = true` is the A/B twin StatsSpec
    * measures the rotation spec against: a fresh h60 per (row, b) —
    * fully independent replicate draws at 40× the hash cost (the
    * variant's ladder leg measured 12.3 s vs 3.26 s at ×32). The
    * measured CI-width A/B between the two specs (StatsSpec, planted
    * n = 20 000): rotation width 6.23 cents vs independent 8.24 —
    * ratio 0.756, i.e. the rotation's cross-replicate dependence
    * NARROWS the interval ~24 % at this scale, both brackets covering
    * the true mean. Bounded and recorded (the spec pins the ratio in
    * (0.5, 2)) — the documented price of the 40×-cheaper hash; callers
    * needing calibrated coverage pass indepMix = true. */
  private[graft] def bootstrapCi(ev: DataFrame,
      indepMix: Boolean = false): DataFrame = {
    import graft.ops.Dsl.{h60, ratio4dec}
    val base = ev.select(col("event_type"), col("event_id"),
      (col("value").cast("decimal(12,2)") * 100).cast("long").as("cents"))
    val tot = base.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_c"))
      .withColumn("mean_c4", ratio4dec(col("sum_c"), col("n")))
    // ONE content hash per row; replicate b reads the rotation
    // (h + b·5761) mod 10⁴ (5761 ⊥ 10⁴, so the 40 offsets are distinct
    // residues). Marginally each replicate's u is the same 10⁴-grid
    // uniform as a per-(row, b) hash — at 1/40th the md5 cost, which is
    // the ladder leg's dominant constant (measured: the per-(row, b)
    // md5 variant cost 12.3 s at ×32). The cross-replicate rotation
    // dependence is the documented trade of the one-hash spec, and the
    // indepMix A/B above bounds what the trade costs in CI width.
    // the rotation path hashes BEFORE the explode — one md5 per row,
    // duplicated (not recomputed) by the generate
    val hashed =
      if (indepMix) base
      else base.withColumn("h",
        pmod(h60(col("event_id").cast("string")), lit(10000L)))
    val reps = hashed
      .withColumn("b", explode(sequence(lit(0), lit(BootB - 1))))
      .withColumn("u",
        if (indepMix)
          pmod(h60(concat_ws(":", col("event_id"), col("b"))), lit(10000L))
        else
          pmod(col("h") + col("b") * lit(5761L), lit(10000L)))
      .withColumn("w",
        when(col("u") < 3679, 0L).when(col("u") < 7358, 1L)
          .when(col("u") < 9197, 2L).when(col("u") < 9810, 3L)
          .when(col("u") < 9963, 4L).otherwise(5L))
      .groupBy(col("event_type"), col("b"))
      .agg(sum(col("w")).as("nw"), sum(col("w") * col("cents")).as("sw"))
    ciFinish(tot, reps)
  }

  /** The shared CI finish: the DISC 1/40 and 39/40 order statistics of
    * the replicate means, joined onto the point estimate. `reps` is
    * (event_type, b, nw, sw) — exact integer replicate sums, from EITHER
    * the per-row fold (q184) or the bucket panel (q187/s56). */
  private def ciFinish(tot: DataFrame, reps: DataFrame): DataFrame = {
    import graft.ops.Dsl.ratio4dec
    val means = reps.filter(col("nw") > 0).withColumn("rmean4", ratio4dec(col("sw"), col("nw")))
    val ci = cumHist(means, Seq(col("event_type")), col("rmean4"), lit(1L))
      .groupBy(col("event_type"))
      .agg(disc(col("rmean4"), 1, BootB).as("ci_lo4"),
        disc(col("rmean4"), 39, BootB).as("ci_hi4"), max(col("n")).as("n_reps"))
    tot.join(ci, Seq("event_type"))
      .select(col("event_type"), col("n"), col("mean_c4"),
        col("ci_lo4"), col("ci_hi4"), col("n_reps"))
      .orderBy(col("event_type"))
  }

  /** q187: the BUCKETED Poisson bootstrap — q184's CI computed from the
    * 10⁴-bucket hash panel instead of the raw rows, EXACTLY. The
    * rotation spec's replicate weight for a row depends ONLY on
    * h = h60(event_id) mod 10⁴ (never on the row beyond its hash), so
    * replicate sums factor through the buckets:
    * Σᵢ w(uᵢ,b)·cᵢ = Σ_h w(u(h,b)) · Σ_{i∈h} cᵢ — integer-exact, term
    * for term. One (type, h)-keyed map-side-combined aggregate reduces
    * the corpus to ≤ types × 10⁴ bucket rows carrying (cnt, Σcents);
    * the B-fold explode then runs over the PANEL, not the corpus:
    * Θ(N + B·10⁴) total work where q184's per-row fold is Θ(B·N).
    * Output equals q184 row for row (StatsSpec law) — the same
    * factorization is what the s56 streaming read rides (the bucket
    * panel is an additive store), and it is structurally IMPOSSIBLE
    * under the independent per-(row, b) mix: the rotation trade q184's
    * scaladoc documents buys exactly this.
    *
    * Scale posture: one map-side-combined shuffle of ≤ types × 10⁴
    * rows; the explode fans out 40× over the bounded panel (≤ types ×
    * 4·10⁵ in-memory rows, no shuffle growth); the cumulative window
    * sits on the ≤ B-row per-type frame. At 100 TB this is THE way to
    * bootstrap: the corpus is read once, everything after is
    * constant-bounded. */
  def q187(spark: SparkSession, sfDir: String): DataFrame =
    bootstrapCiBucketed(events(spark, sfDir))

  /** q187 kernel on an arbitrary (event_type, event_id, value) frame. */
  private[graft] def bootstrapCiBucketed(ev: DataFrame): DataFrame =
    ciOfBuckets(bucketsOf(ev))

  /** The (type, h)-bucket reduction — the s56 store's partial frame and
    * the seam stream and batch share (one hash/weight definition by
    * construction). */
  private[graft] def bucketsOf(ev: DataFrame): DataFrame = {
    import graft.ops.Dsl.h60
    ev.select(col("event_type"),
        pmod(h60(col("event_id").cast("string")), lit(10000L)).as("h"),
        (col("value").cast("decimal(12,2)") * 100).cast("long").as("cents"))
      .groupBy(col("event_type"), col("h"))
      .agg(count(lit(1)).as("cnt"), sum(col("cents")).as("sum_c"))
  }

  /** q187 kernel on a merged (event_type, h, cnt, sum_c) bucket panel
    * (the s56-store seam). */
  private[graft] def ciOfBuckets(buckets: DataFrame): DataFrame = {
    import graft.ops.Dsl.ratio4dec
    val tot = buckets.groupBy(col("event_type"))
      .agg(sum(col("cnt")).as("n"), sum(col("sum_c")).as("sum_c"))
      .withColumn("mean_c4", ratio4dec(col("sum_c"), col("n")))
    val reps = buckets
      .withColumn("b", explode(sequence(lit(0), lit(BootB - 1))))
      .withColumn("u", pmod(col("h") + col("b") * lit(5761L), lit(10000L)))
      .withColumn("w",
        when(col("u") < 3679, 0L).when(col("u") < 7358, 1L)
          .when(col("u") < 9197, 2L).when(col("u") < 9810, 3L)
          .when(col("u") < 9963, 4L).otherwise(5L))
      .groupBy(col("event_type"), col("b"))
      .agg(sum(col("w") * col("cnt")).as("nw"),
        sum(col("w") * col("sum_c")).as("sw"))
    ciFinish(tot, reps)
  }

  /** q185 decay geometry: half-life 7 days, exponent clamped at 40 (a
    * weight below 2⁻⁴⁰ ≈ 10⁻¹² of full is noise at cent precision; the
    * clamp is what keeps the carrier integer — see the scaladoc). */
  val DecayHalfLifeDays = 7
  val DecayClampK = 40

  /** q185: TIME-DECAYED engagement value per event type — the feature-
    * store primitive ("activity score with a 7-day half-life, as of the
    * log's horizon") behind every recency-weighted ranking/churn
    * feature. EXACT BY CONSTRUCTION where float decay folds are not:
    * the weight for a day dd days before the reference is
    * (1/2)^⌊dd/7⌋ — an INTEGER power of two — so the decayed sum is
    * carried as Σ cents·2^(40−k) over exact integer operands
    * (DECIMAL(38,0) / HUGEINT) and divided by 2⁴⁰ once at the output
    * seam via the ratio4dec half-up quotient. No pow(), no float
    * accumulation order, nothing for two engines to disagree on — the
    * q166 integer-carrier discipline applied to exponential decay
    * (whole-day granularity and the ⌊dd/7⌋ step are the documented SPEC,
    * not an approximation of some other spec).
    *
    * Scale posture: rides [[dailyOf]]'s one map-side-combined shuffle;
    * the reference day is a single-row broadcast (the q74/q80 pattern);
    * everything after is arithmetic on the calendar-bounded panel. The
    * s54 streaming read derives this from the s36 daily store — scoring
    * at ingest for free. */
  def q185(spark: SparkSession, sfDir: String): DataFrame =
    decayedEngagement(dailyOf(events(spark, sfDir)))

  /** q185 kernel on a (event_type, d, sum_v) daily frame with sum_v
    * decimal-exact — the dailyOf/s36-store seam, so stream and batch
    * share one decay definition. */
  private[graft] def decayedEngagement(dailyIn: DataFrame): DataFrame = {
    val daily = pin(dailyIn.select(col("event_type"), col("d"),
      (col("sum_v").cast("decimal(18,4)") * 100).cast("long").as("sc")))
    val ref = daily.agg(max(col("d")).as("ref_d"))
    daily.crossJoin(broadcast(ref))
      .withColumn("dd", datediff(col("ref_d"), col("d")))
      .withColumn("k", least(expr(s"dd div $DecayHalfLifeDays"), lit(DecayClampK.toLong)))
      .withColumn("w", expr(s"shiftleft(CAST(1 AS BIGINT), CAST($DecayClampK - k AS INT))"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_days"), max(col("ref_d")).as("ref_d"),
        sum(dec(col("sc")) * dec(col("w"))).as("num"))
      .withColumn("decayed_c4",
        graft.ops.Dsl.ratio4dec(col("num"), lit(1L << DecayClampK)))
      .select(col("event_type"), col("n_days"), col("ref_d"), col("decayed_c4"))
      .orderBy(col("event_type"))
  }

  /** q171: Pearson correlation between the daily-count series of every
    * event-type pair — the metric-correlation matrix an observability
    * layer derives ("do errors track clicks?"), next to q135's
    * distribution-level KS. r = (D·Σxy − Σx·Σy) /
    * (√(D·Σx² − (Σx)²) · √(D·Σy² − (Σy)²)) over the days BOTH types were
    * observed: numerator and both variance terms are EXACT integers
    * (DECIMAL(38,0) carriers / HUGEINT oracle), then two sqrts and one
    * division of identical operands — bit-identical across engines and
    * deliberately UNROUNDED (q133's z discipline; the denominator is the
    * sqrt-PRODUCT, not sqrt-of-product, to keep the integer carrier away
    * from its 10³⁸ ceiling). Zero variance on either side → NULL r.
    *
    * Scale posture: [[dailyOf]] shuffles once; the pair join is a
    * self-equi-join of the calendar-bounded panel on the day key with
    * ≤ T² fan-out per day; the moment aggregate map-side-combines to
    * ≤ T² partials per task. */
  def q171(spark: SparkSession, sfDir: String): DataFrame =
    typeCorrelation(dailyOf(events(spark, sfDir)))

  /** q171 core on a (event_type, d, n) daily frame (planted-data seam). */
  private[graft] def typeCorrelation(dailyIn: DataFrame): DataFrame = {
    // one evaluation feeds both sides of the pair self-join
    val d = pin(dailyIn.select(col("event_type"), col("d"), col("n")))
    val j = d.select(col("event_type").as("type_a"), col("d"), col("n").as("x"))
      .join(d.select(col("event_type").as("type_b"), col("d"), col("n").as("y")),
        Seq("d"))
      .filter(col("type_a") < col("type_b"))
    corrOfPairs(j, Seq("type_a", "type_b"))
      .orderBy(col("type_a"), col("type_b"))
  }

  /** The shared Pearson finisher on a paired-observation frame (grouping
    * keys + x + y) — q171 (contemporaneous, unordered pairs) and q177
    * (lagged, ordered pairs) both reduce to this one moment kernel. */
  private def corrOfPairs(j: DataFrame, keys: Seq[String]): DataFrame = {
    val s = j.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("n_days"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(dec(col("x")) * dec(col("x"))).as("sxx"),
        sum(dec(col("y")) * dec(col("y"))).as("syy"),
        sum(dec(col("x")) * dec(col("y"))).as("sxy"))
    val num = dec(col("n_days")) * col("sxy") - dec(col("sx")) * dec(col("sy"))
    val vx = dec(col("n_days")) * col("sxx") - dec(col("sx")) * dec(col("sx"))
    val vy = dec(col("n_days")) * col("syy") - dec(col("sy")) * dec(col("sy"))
    s.select(keys.map(col) ++ Seq(col("n_days"),
      when(vx > 0 && vy > 0,
        num.cast("double") / (sqrt(vx.cast("double")) * sqrt(vy.cast("double"))))
        .otherwise(lit(null).cast("double")).as("r")): _*)
  }

  /** q177 lag horizon (days): cross-correlations at lags 0..this. */
  val XcorrMaxLag = 2

  /** q177: lead–lag cross-correlation — q171's matrix swept over time
    * offsets: r(a, b, ℓ) = corr(count_a(d), count_b(d + ℓ)) for lags
    * 0..[[XcorrMaxLag]], over ORDERED type pairs (direction matters once
    * ℓ > 0: "errors track clicks with a one-day delay" is a ≠ b ∧ ℓ = 1,
    * not its transpose). The observability read behind cascade/root-cause
    * timing ("which metric moves FIRST?").
    *
    * Same exactness as q171 (integer moments in DECIMAL(38,0)/HUGEINT,
    * sqrt-product denominator, unrounded deterministic r, zero variance
    * → NULL) through the SAME [[corrOfPairs]] kernel — one definition.
    *
    * Scale posture: per lag, a self-equi-join of the calendar-bounded
    * panel on the shifted day key (≤ T² fan-out per day, lags a
    * constant); the moment aggregate map-side-combines per (pair, lag). */
  def q177(spark: SparkSession, sfDir: String): DataFrame =
    lagCorrelation(dailyOf(events(spark, sfDir)))

  /** q177 core on a (event_type, d, n) daily frame (planted-data seam). */
  private[graft] def lagCorrelation(dailyIn: DataFrame): DataFrame = {
    val d = pin(dailyIn.select(col("event_type"), col("d"), col("n")))
    val joined = (0 to XcorrMaxLag).map { l =>
      d.select(col("event_type").as("type_a"), col("d"), col("n").as("x"))
        .join(d.select(col("event_type").as("type_b"),
          date_sub(col("d"), l).as("d"), col("n").as("y")), Seq("d"))
        .filter(col("type_a") =!= col("type_b"))
        .withColumn("lag_d", lit(l))
    }.reduce(_ unionByName _)
    corrOfPairs(joined, Seq("type_a", "type_b", "lag_d"))
      .orderBy(col("type_a"), col("type_b"), col("lag_d"))
  }

  /** q172: peak-to-trough drawdown of the daily traffic series — for
    * each type, the largest decline from a running peak (max_k
    * (runmax_{≤k}(n) − n_k)) with the day it bottomed: the
    * "traffic never recovered to its peak" read a monitoring layer runs
    * next to q133's single-day spikes and q166's changepoint (a slow
    * bleed below peak is invisible to both). All integer; the trough
    * tie resolves to the EARLIEST day (min over the (−dd, d) struct,
    * q166's discipline).
    *
    * Scale posture: [[dailyOf]]'s one shuffle, then running max and the
    * argmax aggregate over PARTITIONED calendar-bounded windows. */
  def q172(spark: SparkSession, sfDir: String): DataFrame =
    trafficDrawdown(dailyOf(events(spark, sfDir)))

  /** q172 core on a (event_type, d, n) daily frame (planted-data seam). */
  private[graft] def trafficDrawdown(dailyIn: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("event_type")).orderBy(col("d"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    dailyIn.select(col("event_type"), col("d"), col("n"))
      .withColumn("dd", max(col("n")).over(w) - col("n"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_days"), max(col("n")).as("peak_n"),
        min(struct((col("dd") * -1).as("negdd"), col("d"))).as("m"))
      .select(col("event_type"), col("n_days"), col("peak_n"),
        (col("m.negdd") * -1).as("max_dd"), col("m.d").as("trough_d"))
      .orderBy(col("event_type"))
  }

  /** q173: the Gini coefficient of customer revenue — EXACT, at
    * distributed scale: the inequality statistic every marketplace /
    * data-curation team reads next to q122's top-k concentration and
    * q134's HHI. With per-customer revenues sorted ascending and ties
    * grouped per distinct cent value v (count c_v, rank offset a_v =
    * customers strictly below v), G = (2·Σᵢ i·xᵢ − (n+1)·S) / (n·S)
    * becomes Σ_v v·(2·c_v·a_v + c_v² + c_v) — INTEGER arithmetic end to
    * end (DECIMAL(38,0) carriers; one ratio4dec at the end).
    *
    * The scale move: a_v is a GLOBAL prefix count over the revenue
    * histogram, whose cardinality is bounded by the cent RANGE, not the
    * corpus — but not constant, so it gets the two-phase distributed
    * prefix sum ([[graft.ops.Dsl.runningSum]], range-partitioned by
    * cents) instead of a single-task global window. No unpartitioned
    * window anywhere in the plan (PlanSpec-pinned globally).
    *
    * Determinism: pure integers; runningSum's boundary-invariance argument
    * (contiguous ranges + grouped totals reproduce identical offsets
    * wherever the range sampler cuts). */
  def q173(spark: SparkSession, sfDir: String): DataFrame =
    revenueGini(Tables.orders(spark, sfDir)
      .select(col("o_custkey"),
        (col("o_totalprice").cast("decimal(12,2)") * 100).cast("long").as("cents")))

  /** The ranked revenue histogram shared by q173/q174: per distinct
    * per-customer cent total v, its customer count c and the EXACT
    * global rank offset a (customers strictly below v), computed by the
    * two-phase distributed prefix sum ([[graft.ops.Dsl.runningSum]]) over
    * v. No unpartitioned window at any cardinality. */
  private[graft] def rankedRevenueHist(rows: DataFrame): DataFrame =
    rankedHist(rows.groupBy(col("o_custkey")).agg(sum(col("cents")).as("v")))

  /** The generalized ranked histogram: any single-column LONG frame `v`
    * reduces to (v, c, a) — distinct value, count, exact global rank
    * offset — via the two-phase distributed prefix sum. The order-statistic
    * substrate under q173 (Gini), q174 (deciles) and q180 (equi-depth
    * optimizer stats): everything "needs a global sort" reduces to this,
    * with zero global sorts and zero unpartitioned windows. */
  private[graft] def rankedHist(vals: DataFrame): DataFrame =
    rankedHistOfCounts(vals.groupBy(col("v")).agg(count(lit(1)).as("cnt")))

  /** [[rankedHist]] from a pre-counted (v, cnt) frame — the seam the s50
    * streaming column-statistics store reads through. */
  private[graft] def rankedHistOfCounts(counts: DataFrame): DataFrame =
    runningSum(counts.groupBy(col("v")).agg(sum(col("cnt")).as("c")),
      "c", Seq(col("v")), "cum")
      .select(col("v"), col("c"), (col("cum") - col("c")).as("a"))

  /** q173 kernel on a (o_custkey, cents) frame (planted-data seam). */
  private[graft] def revenueGini(rows: DataFrame): DataFrame = {
    val terms = rankedRevenueHist(rows)
      .agg(sum(col("c")).as("n"),
        sum(dec(col("v")) * dec(col("c"))).as("s"),
        sum(dec(col("v")) * (dec(col("c")) * dec(col("a")) * 2 +
          dec(col("c")) * dec(col("c")) + dec(col("c")))).as("twoixsum"))
    terms.select(col("n").as("n_customers"),
      col("s").cast("long").as("total_cents"),
      when(col("n") > 0 && col("s") > 0,
        ratio4dec(col("twoixsum") - dec(col("n") + 1) * col("s"),
          dec(col("n")) * col("s")))
        .otherwise(lit(null).cast("double")).as("gini4"))
  }

  /** q174: the Lorenz decile table — each revenue DECILE's customer
    * count, revenue and revenue share: the "bottom 10% of customers
    * hold x% of revenue" report that gives q173's single number its
    * shape (the production inequality readout — ABC analysis at k=10).
    * Deciles assign by EXACT global rank (0-based rank r → decile
    * ⌊r·10/n⌋); a tied value group spanning a decile boundary SPLITS
    * exactly by rank-range intersection — all integer arithmetic
    * (overlap counts from ceil-div boundaries; the one ratio4dec per
    * decile at the end). The revenue-conservation law (decile revenues
    * sum to the grand total) pins that the split neither mints nor
    * drops a cent.
    *
    * Scale posture: [[rankedRevenueHist]]'s two-phase prefix (no
    * unpartitioned windows); each histogram row explodes into AT MOST
    * the ≤ 10 deciles its rank range touches; the decile aggregate
    * map-side-combines to ≤ 10 partials per task; the single-row
    * (n, S) total broadcasts (NoCartesian-allowlisted). */
  def q174(spark: SparkSession, sfDir: String): DataFrame =
    revenueDeciles(Tables.orders(spark, sfDir)
      .select(col("o_custkey"),
        (col("o_totalprice").cast("decimal(12,2)") * 100).cast("long").as("cents")))

  /** q174 kernel on a (o_custkey, cents) frame (planted-data seam). */
  private[graft] def revenueDeciles(rows: DataFrame): DataFrame = {
    // the ranked histogram feeds the totals and the decile explode
    // (q104 pinning discipline)
    val rh = pin(rankedRevenueHist(rows))
    val tot = rh.agg(sum(col("c")).as("n"),
      sum(dec(col("v")) * dec(col("c"))).as("s"))
    rh.join(broadcast(tot))
      .withColumn("d", explode(sequence(
        expr("a * 10 div n"), expr("(a + c - 1) * 10 div n"))))
      .withColumn("lo", expr("(d * n + 9) div 10"))
      .withColumn("hi", expr("((d + 1) * n + 9) div 10 - 1"))
      .withColumn("ov",
        least(col("a") + col("c") - 1, col("hi")) -
          greatest(col("a"), col("lo")) + 1)
      // when n < 10, floor(r·10/n) skips deciles — a tied group's span
      // can include skipped deciles with zero overlap; drop them so
      // "decile absent" means the same thing everywhere
      .filter(col("ov") > 0)
      .groupBy(col("d"))
      .agg(sum(col("ov")).as("n_customers"),
        sum(dec(col("ov")) * dec(col("v"))).as("rev"),
        max(col("s")).as("s"))
      .select(col("d").as("decile"), col("n_customers"),
        col("rev").cast("long").as("revenue_cents"),
        when(col("s") > 0, ratio4dec(col("rev"), col("s")))
          .otherwise(lit(null).cast("double")).as("share4"))
      .orderBy(col("decile"))
  }

  /** q179: daily value BANDS — per (type, day), the DISC p10/p50/p90 of
    * the event-value distribution: the band chart every latency/value
    * monitor renders (a mean hides exactly the tail movement the p90
    * band shows). ALL INTEGER: exact cents, quantiles as attained values
    * off per-(type, day) cent histograms — the q168 machinery swept along
    * the calendar axis ([[graft.ops.Dsl.cumHist]] partitioned by
    * (type, day)), so one aggregate finishes the panel.
    *
    * Scale posture: ONE map-side-combined histogram shuffle (cardinality
    * types × days × value-domain — quantization-bounded per day);
    * PARTITIONED windows; output types × days. */
  def q179(spark: SparkSession, sfDir: String): DataFrame =
    valueBands(events(spark, sfDir))

  /** q179 kernel on an arbitrary (event_type, ts, value) frame: reduce
    * to per-(type, day, value) counts FIRST — the frame the day-widened
    * s29 store accumulates, which is what makes s48 a read of that
    * store — then the band machinery. */
  private[graft] def valueBands(ev: DataFrame): DataFrame =
    bandsOfCounts(ev
      .select(col("event_type"), to_date(date_trunc("day", col("ts"))).as("d"),
        col("value"))
      .groupBy(col("event_type"), col("d"), col("value"))
      .agg(count(lit(1)).as("cnt")))

  /** q179 kernel on a per-(event_type, d, value) COUNT frame — the seam
    * the s48 streaming read enters through. */
  private[graft] def bandsOfCounts(counts: DataFrame): DataFrame = {
    // values that quantize to one cent stay separate rows: the kernel
    // counts them as one tie
    val h = counts.select(col("event_type"), col("d"),
      (col("value").cast("decimal(12,2)") * 100).cast("long").as("cents"), col("cnt"))
    cumHist(h, Seq(col("event_type"), col("d")), col("cents"), col("cnt"))
      .groupBy(col("event_type"), col("d"))
      .agg(max(col("n")).as("n"), disc(col("cents"), 1, 10).as("p10_c"),
        disc(col("cents"), 1, 2).as("p50_c"), disc(col("cents"), 9, 10).as("p90_c"))
      .orderBy(col("event_type"), col("d"))
  }

  /** q166: CUSUM changepoint localization — for each event type, the day
    * where the cumulative deviation of daily counts from the type's own
    * mean peaks: argmax_k |prefix_k − k·S/D| (Page's CUSUM at its
    * classic single-changepoint reading — the day the regime shifted),
    * reported with the scaled peak statistic in [0, 1]. The complement
    * to q133/q162 (they flag WHICH days are anomalous; this locates WHEN
    * the level changed).
    *
    * Exactness: the deviation is held as the INTEGER |D·prefix_k − k·S|
    * (multiply through by D — no division anywhere until the final
    * ratio4dec against D·S), so the argmax and the tie rule (earliest
    * day on equal peaks, pinned via min over the (−dev, d) struct) are
    * exact; DECIMAL(38,0) carriers keep D·prefix exact past 2⁵³ (the
    * oracle mirrors in HUGEINT). The carriers stay INTERNAL: `peak_dev`
    * leaves as BIGINT (dev ≤ n_days·total, comfortably in long range) —
    * the driver's hash canonicalization renders DECIMAL and BIGINT
    * differently, so no query may emit a raw decimal output column
    * (enforced by VerifySpec's output-type law).
    *
    * Scale posture: [[dailyOf]]'s one map-side-combined shuffle, then
    * prefix sums over PARTITIONED (per-type) calendar-bounded windows,
    * a broadcast of the per-type (D, S) totals, and a per-type argmax
    * aggregate — nothing after the first exchange sees corpus-scale
    * rows. */
  def q166(spark: SparkSession, sfDir: String): DataFrame =
    cusumChangepoint(dailyOf(events(spark, sfDir)))

  /** q166 core on a (event_type, d, n) daily frame (planted-data seam). */
  private[graft] def cusumChangepoint(dailyIn: DataFrame): DataFrame = {
    // the daily frame feeds the totals and the prefix pass (q104 pinning)
    val daily = pin(dailyIn.select(col("event_type"), col("d"), col("n")))
    val tot = daily.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_days"), sum(col("n")).as("total"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("d"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val dev = daily
      .withColumn("prefix", sum(col("n")).over(w))
      .withColumn("k", count(lit(1)).over(w))
      .join(broadcast(tot), Seq("event_type"))
      .withColumn("dev",
        abs(dec(col("n_days")) * dec(col("prefix")) - dec(col("k")) * dec(col("total"))))
    // argmax with the earliest-day tie rule AND the peak value in one
    // struct pass — no second evaluation of the windowed frame
    dev.groupBy(col("event_type"))
      .agg(max(col("n_days")).as("n_days"), max(col("total")).as("total"),
        min(struct((col("dev") * -1).as("negdev"), col("d"))).as("m"))
      .select(col("event_type"), col("n_days"), col("total"),
        col("m.d").as("change_d"),
        (col("m.negdev") * -1).cast("long").as("peak_dev"),
        when(col("total") > 0,
          ratio4dec(col("m.negdev") * -1, dec(col("n_days")) * dec(col("total"))))
          .otherwise(lit(null).cast("double")).as("stat4"))
      .orderBy(col("event_type"))
  }
}
