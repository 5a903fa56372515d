package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.queries.{Windows => WindowsQ}

/** s49: streaming SESSION tracking — q178's entry→exit flow maintained as
  * events land, the continuously-sessionizing job every event platform
  * runs (a session is open until time proves it closed, so state is
  * intrinsic). ORDER-GATED family (BatchStore's arrival-order contract,
  * strict, in (ts, event_id) order): sessionization is order-sensitive
  * across batches — a late event could bridge two already-split
  * sessions.
  *
  * The batch seam is the interesting part: a session can SPAN batches.
  * Each batch sessionizes its own events through q178's OWN
  * `Windows.sessionize` kernel, then merges the resulting session
  * partials with the user's stored OPEN session by the same gap rule the
  * kernel uses (two adjacent sessions merge iff the gap between the
  * previous last event and the next first event is ≤ 30 minutes — the
  * exactly-30 boundary merges, q25's law): min/max over the carrier
  * structs and a count sum reconstruct the merged session exactly.
  * Every merged session except the user's LAST is provably closed (the
  * next session's first event is > 30 min later) and appends to the
  * closed log; the last stays open in the state store.
  *
  * Store layout: `openDir` = per-user open session, LWW by batch_id
  * (doubles as the order high-water mark via its `last` struct);
  * `closedDir` = closed sessions in the batch's own partition.
  *
  * Read: [[flow]] = q178's `Windows.flowOf` finisher over closed ∪ open —
  * row-for-row equal to batch q178 on the log so far, INCLUDING the
  * still-open sessions (exactly what batch q178 sees at the same
  * horizon).
  *
  * Scale posture: per batch one session_window aggregate of the batch
  * only, one window over the touched users' ≤ (sessions-per-batch + 1)
  * segments, two bounded writes — O(batch + touched users), never
  * history. The read merges O(sessions) rows into the ≤ |types|² report.
  */
object SessionTracker {

  private val GapMicros = 30L * 60 * 1000000

  private def emptyOpen(spark: SparkSession): DataFrame =
    WindowsQ.sessionize(spark.range(0).select(col("id").as("user_id"),
      lit(null).cast("timestamp").as("ts"), col("id").as("event_id"),
      lit("").as("event_type")))

  private val arrival = BatchStore.Arrival("s49",
    "sessionization is order-sensitive; a late event could bridge already-split sessions",
    struct(col("last.ts"), col("last.event_id")), strict = true)

  /** One micro-batch of (user_id, event_id, event_type, ts): merge its
    * sessions with the open state, close what time has closed, advance
    * the state. */
  def processBatch(batch: DataFrame, openDir: String, closedDir: String,
      batchId: Long): Unit = {
    val ev = batch.select(col("user_id"), col("event_id"), col("event_type"), col("ts"))
    val mins = ev.groupBy(col("user_id"))
      .agg(min(struct(col("ts"), col("event_id"))).as("mn"))
    BatchStore.gatedTail(batch.sparkSession, openDir, "user_id", batchId, mins, arrival)(
        emptyOpen(batch.sparkSession)) { open =>
      // q178's own kernel over the batch, then the seam merge: segments
      // (open state ∪ batch sessions) chain together wherever the gap
      // between last and next-first events is within the session gap
      val segs = open.unionByName(WindowsQ.sessionize(ev))
      val wU = Window.partitionBy(col("user_id")).orderBy(col("first.ts"), col("first.event_id"))
      val merged = segs
        .withColumn("prev_last", lag(col("last"), 1).over(wU))
        .withColumn("new_s",
          when(col("prev_last").isNull ||
            unix_micros(col("first.ts")) - unix_micros(col("prev_last.ts")) > GapMicros,
            1L).otherwise(0L))
        .withColumn("sid", sum(col("new_s")).over(
          wU.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy(col("user_id"), col("sid"))
        .agg(min(col("first")).as("first"), max(col("last")).as("last"),
          sum(col("n_events")).as("n_events"))
      val ranked = merged.withColumn("rn",
        row_number().over(Window.partitionBy(col("user_id")).orderBy(col("sid").desc)))
        .localCheckpoint(true) // one evaluation feeds both writes
      val session = Seq("user_id", "first", "last", "n_events").map(col)
      BatchStore.write(ranked.filter(col("rn") > 1).select(session: _*), closedDir, batchId)
      BatchStore.write(ranked.filter(col("rn") === 1).select(session: _*), openDir, batchId)
    }
  }

  /** The q178-shaped flow report over everything ingested so far —
    * closed sessions plus the currently-open ones, exactly the horizon
    * batch q178 sees. */
  def flow(spark: SparkSession, openDir: String, closedDir: String): DataFrame = {
    val closed = BatchStore.readOr(spark, closedDir)(emptyOpen(spark))
      .select(col("user_id"), col("first"), col("last"), col("n_events"))
    val open = BatchStore.latest(spark, openDir, Seq("user_id"), Long.MaxValue)(emptyOpen(spark))
    WindowsQ.flowOf(closed.unionByName(open))
  }
}
