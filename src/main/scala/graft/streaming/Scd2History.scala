package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

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
  * The arrival-order contract is ENFORCED, not assumed (r9/r10 verdict
  * item 2): every user's tail carries the (hwm_ts, hwm_eid) high-water
  * mark of ALL events seen (not just status changes — an absorbed
  * same-status event advances the mark without touching valid_from), and
  * [[processBatch]] rejects — IllegalStateException, before any sink
  * write — a batch carrying an event at or below a touched user's mark.
  * SCD2 is NOT order-insensitive (a late event re-orders the interval
  * chain and re-opens closed history), so a violating batch must die at
  * the boundary rather than silently diverge from q113 parity. Replay
  * stays legal: a re-run of batch b checks against the marks as of b-1
  * (its own writes invisible), exactly like its reads.
  */
object Scd2History {

  private def emptyTails(spark: SparkSession): DataFrame =
    spark.range(0).select(col("id").as("user_id"), col("id").as("event_id"),
      lit("").as("status"), lit(null).cast("timestamp").as("valid_from"),
      lit(null).cast("timestamp").as("hwm_ts"), col("id").as("hwm_eid"))

  /** Live open interval per user WITH its order high-water mark:
    * highest-batch_id tail row below `batchId`. Schema-stable empty
    * frame before any write. */
  private[graft] def readTailsFull(spark: SparkSession, tailDir: String,
      batchId: Long): DataFrame =
    BatchStore.latest(spark, tailDir, Seq("user_id"), batchId)(emptyTails(spark))

  /** Live open interval per user — the read-path face (no mark). */
  private[graft] def readTails(spark: SparkSession, tailDir: String,
      batchId: Long): DataFrame =
    readTailsFull(spark, tailDir, batchId)
      .select(col("user_id"), col("event_id"), col("status"), col("valid_from"))

  /** One micro-batch of (user_id, event_id, event_type, ts): extend the
    * touched users' histories, write closed intervals + new tails to the
    * batch's own partitions. */
  def processBatch(batch: DataFrame, tailDir: String, closedDir: String,
      batchId: Long): Unit = {
    val spark = batch.sparkSession
    // bound the LWW read: fold committed tail partitions into the base;
    // closedDir is append-only facts and never folds
    if (BatchStore.foldDue(batchId))
      BatchStore.fold(spark, tailDir, batchId)(BatchStore.lastWins(Seq("user_id")))
    val ev = batch.select(col("user_id"), col("event_id"),
      col("event_type").as("status"), col("ts"))
    // only the batch's users can change state; everyone else's tail
    // stays live in an older partition untouched. NULL-safe semi join:
    // batch q113's window treats the NULL user_id as one ordinary group
    // (the log DOES carry null users — q109's null screen counts them),
    // so the null-user tail must keep chaining across batches too.
    val stored = readTailsFull(spark, tailDir, batchId)
    val batchUsers = ev.select(col("user_id").as("bu")).distinct()
    // no pin despite two consumers (gate + kernel): the frame is a
    // join-rooted plan (checkpointing those poisons captured constraints
    // for the later union — the r8 UnionBase.rewriteConstraints find)
    // and the LWW window over an O(users) store is cheap to run twice
    val storedTouched = stored
      .join(batchUsers, stored("user_id") <=> batchUsers("bu"), "left_semi")
    // arrival-order gate: every batch event must sit strictly above the
    // touched user's stored (hwm_ts, hwm_eid) mark — checked BEFORE any
    // sink write so a violating batch leaves both stores untouched. One
    // per-user aggregate of the batch + a null-safe join against the
    // already-read tails; struct comparison is lexicographic, exactly
    // the kernel's (ts, event_id) sort order.
    val bad = ev.groupBy(col("user_id"))
      .agg(min(struct(col("ts"), col("event_id"))).as("mn"))
      .join(storedTouched.select(col("user_id").as("hu"),
          struct(col("hwm_ts").as("ts"), col("hwm_eid").as("event_id")).as("hw")),
        col("user_id") <=> col("hu"))
      .filter(col("mn") <= col("hw"))
      .select(col("user_id"), col("mn"), col("hw"))
      .limit(3).collect()
    if (bad.nonEmpty) throw new IllegalStateException(
      s"s24 arrival-order contract violated in batch $batchId (SCD2 is " +
        "order-sensitive; a late event re-orders closed history): " +
        bad.map(r => s"user ${r.get(0)}: batch min ${r.get(1)} <= high-water ${r.get(2)}")
          .mkString("; "))
    val tails = storedTouched
      .select(col("user_id"), col("event_id"), col("status"),
        col("valid_from").as("ts"))
    // q113's kernel over tail ∪ batch: the tail sorts first under the
    // arrival-order assumption (its (ts, event_id) precedes the batch's)
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val intervals = tails.unionByName(ev)
      .withColumn("prev_status", lag(col("status"), 1).over(w))
      .filter(col("prev_status").isNull || col("prev_status") =!= col("status"))
      .withColumn("valid_to", lead(col("ts"), 1).over(w))
      .select(col("user_id"), col("event_id"), col("status"),
        col("ts").as("valid_from"), col("valid_to"))
      // eager pin: feeds both the closed write and the tail write, and
      // the dynamic overwrite below rewrites paths a lazy plan might
      // re-read (r9 pinning discipline)
      .localCheckpoint(true)
    BatchStore.write(intervals.filter(col("valid_to").isNotNull), closedDir, batchId)
    // new high-water mark per touched user = this batch's max (ts,
    // event_id) — the gate above proved every stored mark sits below it
    val hwNew = ev.groupBy(col("user_id").as("hu"))
      .agg(max(struct(col("ts"), col("event_id"))).as("mx"))
      .select(col("hu"), col("mx.ts").as("hwm_ts"), col("mx.event_id").as("hwm_eid"))
    val openTails = intervals.filter(col("valid_to").isNull)
      .select(col("user_id"), col("event_id"), col("status"), col("valid_from"))
    BatchStore.write(openTails.join(hwNew, openTails("user_id") <=> hwNew("hu")).drop("hu"),
      tailDir, batchId)
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
