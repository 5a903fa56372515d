package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.queries.ChangeData

/** s34: streaming CHANGE DATA FEED — q152's table diff maintained as the
  * events land, the Delta-CDF / Iceberg-changelog read every downstream
  * incremental consumer subscribes to instead of re-diffing snapshots.
  * Each micro-batch applies the batch's events to the stored LWW
  * projection (q27 / s04's state) and emits one change row per key whose
  * winner MOVED: `insert` with a NULL pre-image, or `update` with the
  * pre- and post-image — built by the SAME [[ChangeData.cdcRows]]
  * constructor batch q152 uses, so the streamed feed and the snapshot
  * diff cannot drift on the change predicate or the row shape.
  *
  * Store layout (the s15/s17 discipline): `stateDir` holds the LWW
  * winner per user (read = highest-batch_id row per key); `cdcDir` is
  * the feed — append-only change rows in the emitting batch's own
  * partition.
  *
  * NOT order-gated (the s16/s21/s26 additive family's freedom, for the
  * state half): LWW by (ts, event_id) is a commutative max, so the
  * stored state converges to batch q27 under ANY arrival order. The
  * feed rows themselves DO depend on arrival grouping — a CDF is by
  * definition "what changed relative to what I had" — but composable
  * exactly: [[netted]] collapses any contiguous run of batches to
  * first-pre-image → last-post-image, and the StreamingSpec law pins
  * that the netted feed over the post-cutoff batches EQUALS batch q152's
  * diff row for row.
  *
  * Per batch the work is one map-side-combined aggregate of the batch
  * (its per-key winner), one LWW read of the touched keys' stored rows
  * (left-semi pruned), and bounded-cardinality writes — nothing scans
  * the log history, so a 100 TB stream pays O(batch + touched keys) per
  * batch.
  */
object ChangeFeed {

  /** The LWW winner per user. */
  private def emptyState(spark: SparkSession): DataFrame =
    spark.range(0).select(col("id").as("user_id"),
      lit(null).cast("timestamp").as("ts"), col("id").as("event_id"),
      lit("").as("event_type"), lit(0.0).as("value"))

  /** One micro-batch of (user_id, event_id, event_type, ts, value):
    * emit the change rows and advance the stored winners. */
  def processBatch(batch: DataFrame, stateDir: String, cdcDir: String,
      batchId: Long): Unit = {
    val img = struct(col("ts"), col("event_id"), col("event_type"), col("value"))
    // the batch's own per-key winner: ONE map-side-combined aggregate
    val batchWin = batch
      .select(col("user_id"), img.as("bw"))
      .groupBy(col("user_id"))
      .agg(max(col("bw")).as("bw"))
    // stored winners of the touched keys only (q27 treats the NULL user
    // as one ordinary key)
    val storedTouched = BatchStore.touchedTail(batch.sparkSession, stateDir, "user_id", batchId,
        batchWin)(emptyState(batch.sparkSession))
      .select(col("user_id").as("su"), img.as("old"))
    // old = stored image (null when first seen); nw = LWW max of the two
    // (greatest skips the null old) — commutative, so arrival order can
    // reorder WHICH batch emits a change but never the converged state
    val pairs = batchWin
      .join(storedTouched, col("user_id") <=> col("su"), "left_outer")
      .select(col("user_id"), col("old"), greatest(col("old"), col("bw")).as("nw"))
      // feeds the cdc write and the state write; the dynamic overwrite
      // below must not re-read a lazy plan
      .localCheckpoint(true)
    BatchStore.write(ChangeData.cdcRows(pairs), cdcDir, batchId)
    // advance ONLY the moved keys — an unchanged key's winner stays live
    // in its older partition
    val moved = pairs
      .filter(col("old").isNull || col("old.event_id") =!= col("nw.event_id"))
      .select(col("user_id"), col("nw.ts").as("ts"), col("nw.event_id").as("event_id"),
        col("nw.event_type").as("event_type"), col("nw.value").as("value"))
    BatchStore.write(moved, stateDir, batchId)
  }

  /** The q27-shaped current state over everything ingested so far. */
  def state(spark: SparkSession, stateDir: String): DataFrame =
    BatchStore.latest(spark, stateDir, Seq("user_id"), Long.MaxValue)(emptyState(spark))
      .select(col("user_id"), col("event_type"), col("value"), col("ts"))
      .orderBy(col("user_id"))

  /** The raw feed: every change row ever emitted, with its batch_id.
    * Schema-stable empty frame before the first write. */
  def feed(spark: SparkSession, cdcDir: String): DataFrame =
    BatchStore.readOr(spark, cdcDir)(spark.range(0).select(col("id").as("user_id"),
        lit("").as("change"),
        col("id").as("old_event_id"), lit("").as("old_event_type"),
        lit(0.0).as("old_value"), lit(null).cast("timestamp").as("old_ts"),
        col("id").as("new_event_id"), lit("").as("new_event_type"),
        lit(0.0).as("new_value"), lit(null).cast("timestamp").as("new_ts"),
        col("id").as("batch_id")))
      .select(col("user_id"), col("change"),
        col("old_event_id"), col("old_event_type"), col("old_value"), col("old_ts"),
        col("new_event_id"), col("new_event_type"), col("new_value"), col("new_ts"),
        col("batch_id").cast("long").as("batch_id"))

  /** Net a contiguous run of feed batches to one change per key — the
    * compaction every CDF consumer applies before merging: pre-image of
    * the key's FIRST change in the run, post-image of its LAST (LWW only
    * advances, so the netted pair is never a no-op), `insert` iff the
    * first change was an insert. With the run = every batch after the
    * snapshot boundary, this is EXACTLY q152's diff (the StreamingSpec
    * law). One map-side-combined aggregate over the feed slice. */
  def netted(feedSlice: DataFrame): DataFrame =
    feedSlice
      .groupBy(col("user_id"))
      .agg(
        min_by(struct(col("change"), col("old_event_id"), col("old_event_type"),
          col("old_value"), col("old_ts")), col("batch_id")).as("first"),
        max_by(struct(col("new_event_id"), col("new_event_type"),
          col("new_value"), col("new_ts")), col("batch_id")).as("last"))
      .select(col("user_id"), col("first.change").as("change"),
        col("first.old_event_id").as("old_event_id"),
        col("first.old_event_type").as("old_event_type"),
        col("first.old_value").as("old_value"),
        col("first.old_ts").as("old_ts"),
        col("last.new_event_id").as("new_event_id"),
        col("last.new_event_type").as("new_event_type"),
        col("last.new_value").as("new_value"),
        col("last.new_ts").as("new_ts"))
      .orderBy(col("user_id"))
}
