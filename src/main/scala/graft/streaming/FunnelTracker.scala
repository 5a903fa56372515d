package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** s25: streaming funnel tracking — the online form of q62, the last
  * event-journey family member to get a streaming twin (q62 funnel /
  * q63 journey / q86 retention are the batch faces). Events arrive in
  * micro-batches (per-user ts order when the upstream is the log feed)
  * and each batch advances the SAME per-user funnel a single batch q62
  * pass would compute, by carrying exactly the state the fold needs:
  * each user's stage-entry timestamps (t_signup, t_view, t_click,
  * t_purchase) — one row per funnel-entered user, the s24 tail-store
  * discipline with the funnel tuple as the tail.
  *
  * The per-batch kernel IS batch q62's unordered core
  * (`graft.queries.Events.funnel` — one stage-chain definition
  * everywhere, one user_id exchange, no final sort for a result the store
  * checkpoints): the stored tail is expanded back into one synthetic
  * event per completed stage and unioned with the batch's events, and
  * the kernel re-derives the tuple ([[advance]]). That
  * reconstruction is exact under in-order arrival: the strict-chain
  * filters (`ts > t_prev`) make each stage timestamp FINAL the moment it
  * is set (a later event can never produce an earlier qualifying ts),
  * and a prior event that did NOT qualify can never qualify later —
  * a view discarded because no signup preceded it would need a future
  * signup with a SMALLER ts to start qualifying, which in-order arrival
  * rules out. So the four timestamps are the fold's entire state and
  * dropped events are dead weight, the s23/s24 left-fold argument.
  *
  * Store layout is s24's: tails LWW by batch_id. An empty batch writes
  * no partition, so it leaves every read as it was.
  *
  * Batch-parity law (StreamingSpec): when each user's events arrive in
  * ts order across batches, [[funnelState]] EQUALS batch q62 on the
  * concatenated log row-for-row, including the NULL-user group (the
  * kernel's equi-joins strand null users at the signup stage in BOTH
  * forms — same kernel, same semantics).
  *
  * Arrival order (BatchStore's contract, nondecreasing): the store keeps
  * one row per user EVER SEEN, funnel-entered or not (a user whose first
  * events precede their signup has discardable events but a mark that
  * must still advance), carrying the user's max event ts as `hwm_ts`. A
  * tie at the mark is admitted: every stage filter is strict
  * (`ts > t_prev`), so an event tying the mark can neither qualify
  * retroactively nor lower a stage minimum; the s25 out-of-order law pins
  * both directions.
  */
object FunnelTracker {

  private def emptyTails(spark: SparkSession): DataFrame =
    spark.range(0).select(col("id").as("user_id"),
      lit(null).cast("timestamp").as("t_signup"),
      lit(null).cast("timestamp").as("t_view"),
      lit(null).cast("timestamp").as("t_click"),
      lit(null).cast("timestamp").as("t_purchase"),
      lit(0).as("stages_completed"),
      lit(null).cast("timestamp").as("hwm_ts"))

  private val arrival = BatchStore.Arrival("s25",
    "a late event could qualify discarded history; q62 parity would silently break",
    col("hwm_ts"), strict = false)

  /** Live funnel tuple per funnel-ENTERED user — the read-path face
    * (q62's row set: hwm-only rows are store bookkeeping, not funnel
    * state). */
  private[graft] def readTails(spark: SparkSession, tailDir: String,
      batchId: Long): DataFrame =
    BatchStore.latest(spark, tailDir, Seq("user_id"), batchId)(emptyTails(spark))
      .filter(col("t_signup").isNotNull)
      .select(col("user_id"), col("t_signup"), col("t_view"),
        col("t_click"), col("t_purchase"), col("stages_completed"))

  /** One micro-batch of (user_id, event_type, ts): advance the touched
    * users' funnels, write the new tails to the batch's own partition. */
  def processBatch(batch: DataFrame, tailDir: String, batchId: Long): Unit = {
    val ev = batch.select(col("user_id"), col("event_type"), col("ts"))
    // the batch's users with their ts range, one aggregate read by the
    // tail prune, the arrival-order gate and the new marks (pinned: an
    // aggregate-rooted plan, safe to checkpoint)
    val span = ev.groupBy(col("user_id").as("hu"))
      .agg(min(col("ts")).as("mn"), max(col("ts")).as("hwm_new"))
      .localCheckpoint(true)
    BatchStore.gatedTail(batch.sparkSession, tailDir, "user_id", batchId,
        span.select(col("hu").as("user_id"), col("mn")), arrival)(
        emptyTails(batch.sparkSession)) { tails =>
      // eager pin before the dynamic overwrite of the directory the plan
      // itself reads
      val state = advance(tails, ev).localCheckpoint(true)
      // new tail = EVERY batch user: funnel tuple where entered (NULL
      // stages otherwise) + the advanced order mark — the gate proved
      // this batch's max ts is each touched user's new high water
      val newTails = span.join(state, col("hu") <=> state("user_id"), "left")
        .select(col("hu").as("user_id"), col("t_signup"), col("t_view"),
          col("t_click"), col("t_purchase"),
          coalesce(col("stages_completed"), lit(0)).as("stages_completed"),
          col("hwm_new").as("hwm_ts"))
      BatchStore.write(newTails, tailDir, batchId)
    }
  }

  /** The funnel tuples of the batch's users: batch q62's unordered
    * kernel over their stored tails, each expanded back into one
    * synthetic event per completed stage, ∪ the batch's events. The
    * stored chain is strictly increasing (the kernel's own filters built
    * it), so the kernel re-derives the identical tuple from it. */
  private[graft] def advance(tails: DataFrame, ev: DataFrame): DataFrame = {
    val synth = tails.select(col("user_id"), explode(array(
        struct(lit("signup").as("event_type"), col("t_signup").as("ts")),
        struct(lit("view").as("event_type"), col("t_view").as("ts")),
        struct(lit("click").as("event_type"), col("t_click").as("ts")),
        struct(lit("purchase").as("event_type"), col("t_purchase").as("ts"))))
        .as("e"))
      .filter(col("e.ts").isNotNull)
      .select(col("user_id"), col("e.event_type").as("event_type"),
        col("e.ts").as("ts"))
    graft.queries.Events.funnel(synth.unionByName(ev))
  }

  /** The q62-shaped funnel over everything ingested so far — row-for-row
    * equal to batch q62 on the concatenated log under in-order arrival. */
  def funnelState(spark: SparkSession, tailDir: String): DataFrame =
    readTails(spark, tailDir, Long.MaxValue)
      .orderBy(col("user_id"))

  /** The conversion panel a dashboard polls: users per completed-stage
    * count — O(4) rows off the O(users) store. */
  def funnelSummary(spark: SparkSession, tailDir: String): DataFrame =
    readTails(spark, tailDir, Long.MaxValue)
      .groupBy(col("stages_completed"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy(col("stages_completed"))
}
