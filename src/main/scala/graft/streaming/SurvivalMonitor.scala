package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.queries.Behavior

/** s40: streaming survival-curve maintenance — q164's Nelson–Aalen
  * conversion hazard kept current as events land. Each batch writes its
  * per-user span partials through q164's OWN `Behavior.userSpans` kernel
  * (first event MIN, first purchase MIN, last event MAX,
  * [[BatchStore.Additive]]); the read merges the per-user partials and
  * runs the SAME `Behavior.hazardOfSpans` finisher batch q164 uses, so
  * the estimator exists exactly once. A user's first-purchase time is
  * the MIN over batches of per-batch MINs regardless of which batch saw
  * it first (MIN ignores the null partials of batches where the user
  * didn't purchase).
  *
  * The censoring semantics come out right BY CONSTRUCTION online: a user
  * who hasn't purchased yet has a null tp across all partials and is
  * censored at their current tend — exactly the at-risk treatment the
  * batch estimator applies; when their purchase arrives in a later
  * batch, the next read reclassifies them. Survival statistics over a
  * live population is precisely a query you must be able to re-pose as
  * data arrives.
  *
  * Scale posture: per batch ONE map-side-combined per-user aggregate of
  * the batch only; the store grows one O(batch users) partition per
  * batch; the read merges per-user partials (one shuffle at user
  * cardinality) into the calendar-bounded histogram finisher.
  */
object SurvivalMonitor {

  private val spans = BatchStore.Additive(graft.tables.Tables.EventsSchema)(Behavior.userSpans)(
    _.groupBy(col("user_id"))
      .agg(min(col("t0")).as("t0"), min(col("tp")).as("tp"), max(col("tend")).as("tend")))

  /** One micro-batch of (user_id, ts, event_type): per-user span
    * partials → the batch's own partition. */
  def processBatch(batch: DataFrame, storeDir: String, batchId: Long): Unit =
    spans.write(batch, storeDir, batchId)

  /** The q164-shaped hazard table over everything ingested so far —
    * row-for-row equal to batch q164 on the concatenated log. */
  def hazard(spark: SparkSession, storeDir: String): DataFrame =
    Behavior.hazardOfSpans(spans.read(spark, storeDir))
}
