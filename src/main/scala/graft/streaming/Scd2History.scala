package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.queries.Events

/** s24: streaming SCD2 projection history — the online form of q113,
  * completing the projection family's symmetry: q27 (latest state) has
  * its streaming upsert in s04, and q113 (the full validity-interval
  * history) gets this. Events arrive in micro-batches (per-user ts order
  * when the upstream is the log feed) and each batch extends the SAME
  * interval table a single batch q113 pass would build, by carrying
  * exactly the state the fold needs: each user's OPEN interval —
  * (event_id, status, valid_from) — one row per active user, the s14
  * key-set store discipline.
  *
  * Store layout: `tailDir` holds the open intervals, LWW by batch_id
  * (the s15/s17 read rule); `closedDir` holds closed intervals —
  * immutable once written, appended in the batch's own partition, and
  * never read by processBatch.
  *
  * Per batch the work is ONE shuffle on user_id: the stored tails of the
  * touched users (a left-semi-filtered LWW read) union the batch's
  * events, and q113's lag → filter → lead kernel runs per user over the
  * combined frame ordered by (ts, event_id) — the tail row carries its
  * ORIGINAL valid_from and opening event_id, so an interval that merely
  * persists through a batch is re-written unchanged (same surrogate key)
  * and one that closes emits with the valid_from it opened with, however
  * many batches ago. Rows whose lead is non-NULL are this batch's closed
  * intervals; the one NULL-lead row per user is its new tail.
  *
  * Batch-parity law (StreamingSpec): when each user's events arrive in
  * (ts, event_id) order across batches, [[history]] EQUALS batch q113 on
  * the concatenated log — SCD2 is a per-user left fold and the open
  * interval is its entire state.
  *
  * Arrival order (BatchStore's contract, strict): every user's tail
  * carries the (hwm_ts, hwm_eid) high-water mark of ALL events seen, not
  * just status changes (an absorbed same-status event advances the mark
  * without touching valid_from). SCD2 is order-sensitive: a late event
  * re-orders the interval chain and re-opens closed history.
  */
object Scd2History {

  private def emptyTails(spark: SparkSession): DataFrame =
    spark.range(0).select(col("id").as("user_id"), col("id").as("event_id"),
      lit("").as("status"), lit(null).cast("timestamp").as("valid_from"),
      lit(null).cast("timestamp").as("hwm_ts"), col("id").as("hwm_eid"))

  private val arrival = BatchStore.Arrival("s24",
    "SCD2 is order-sensitive; a late event re-orders closed history",
    struct(col("hwm_ts").as("ts"), col("hwm_eid").as("event_id")), strict = true)

  /** Live open interval per user: highest-batch_id tail row below
    * `batchId`. Schema-stable empty frame before any write. */
  private[graft] def readTails(spark: SparkSession, tailDir: String,
      batchId: Long): DataFrame =
    BatchStore.latest(spark, tailDir, Seq("user_id"), batchId)(emptyTails(spark))
      .select(col("user_id"), col("event_id"), col("status"), col("valid_from"))

  /** One micro-batch of (user_id, event_id, event_type, ts): extend the
    * touched users' histories, write closed intervals + new tails to the
    * batch's own partitions. */
  def processBatch(batch: DataFrame, tailDir: String, closedDir: String,
      batchId: Long): Unit = {
    val ev = batch.select(col("user_id"), col("event_id"),
      col("event_type").as("status"), col("ts"))
    // struct comparison is lexicographic, exactly the kernel's
    // (ts, event_id) sort order
    val mins = ev.groupBy(col("user_id"))
      .agg(min(struct(col("ts"), col("event_id"))).as("mn"))
    BatchStore.gatedTail(batch.sparkSession, tailDir, "user_id", batchId, mins, arrival)(
        emptyTails(batch.sparkSession)) { stored =>
      val tails = stored.select(col("user_id"), col("event_id"), col("status"),
        col("valid_from").as("ts"))
      // q113's kernel over tail ∪ batch: the tail sorts first under the
      // arrival-order contract (its (ts, event_id) precedes the batch's)
      val intervals = Events.scd2Intervals(tails.unionByName(ev))
        // eager pin: feeds both the closed write and the tail write, and
        // the dynamic overwrite below rewrites paths a lazy plan might
        // re-read
        .localCheckpoint(true)
      BatchStore.write(intervals.filter(col("valid_to").isNotNull), closedDir, batchId)
      // new high-water mark per touched user = this batch's max (ts,
      // event_id) — the gate proved every stored mark sits below it
      val hwNew = ev.groupBy(col("user_id").as("hu"))
        .agg(max(struct(col("ts"), col("event_id"))).as("mx"))
        .select(col("hu"), col("mx.ts").as("hwm_ts"), col("mx.event_id").as("hwm_eid"))
      val openTails = intervals.filter(col("valid_to").isNull)
        .select(col("user_id"), col("event_id"), col("status"), col("valid_from"))
      BatchStore.write(openTails.join(hwNew, openTails("user_id") <=> hwNew("hu")).drop("hu"),
        tailDir, batchId)
    }
  }

  /** The q113-shaped history over everything ingested so far: all closed
    * intervals plus the live open interval per user (NULL valid_to —
    * R10's not-yet-ended discipline). Schema-stable empty frame before
    * the first write. */
  def history(spark: SparkSession, tailDir: String, closedDir: String): DataFrame = {
    val closed = BatchStore.readOr(spark, closedDir)(
        emptyTails(spark).withColumn("valid_to", lit(null).cast("timestamp")))
      .select(col("user_id"), col("event_id"), col("status"),
        col("valid_from"), col("valid_to"))
    val open = readTails(spark, tailDir, Long.MaxValue)
      .withColumn("valid_to", lit(null).cast("timestamp"))
    closed.unionByName(open)
      .orderBy(col("user_id"), col("valid_from"), col("event_id"))
  }
}
