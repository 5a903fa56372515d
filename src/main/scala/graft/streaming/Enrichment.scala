package graft.streaming

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

/** s11: stream-static enrichment — each micro-batch of the event stream
  * left-joins a static reference table (member segments here; at scale, any
  * slowly-changing dimension), completing the join-family coverage next to
  * the batch zoo (q03–q09) and the stream-stream interval join (s08).
  *
  * Scale posture: the static side is broadcast — no stream-side shuffle, no
  * state store (unlike s08 there is nothing to watermark: the static side
  * never grows stale state). A static DataFrame is resolved once at query
  * start, so [[enrich]] serves a FIXED dimension; a dimension that changes
  * mid-flight goes through [[enrichRefreshing]], which re-reads the dim
  * inside foreachBatch so each micro-batch joins the dimension's CURRENT
  * snapshot — the projection-refresh the reference gets for free from
  * querying MySQL per page load (`main.go:214`).
  */
object Enrichment {

  /** Left-enrich a (streaming or batch) event frame with a static dim on
    * user_id; unmatched users keep NULL dim columns (same NULL semantics
    * the q05 left-outer oracle pins). */
  def enrich(stream: DataFrame, dim: DataFrame): DataFrame =
    stream.join(broadcast(dim), Seq("user_id"), "left")

  /** Changing-dimension form of [[enrich]]: the dim parquet at `dimPath`
    * is re-read at the START of every micro-batch, so an update written
    * between batches reaches the next batch without a query restart.
    *
    * Updater contract: dim updates must be ATOMIC at the path level —
    * write the new snapshot to a fresh directory and swap (rename /
    * repoint), or use a transactional table format. A plain
    * `mode("overwrite")` onto `dimPath` is delete-then-write: racing a
    * running batch it can fail the query mid-scan (listed files deleted
    * underneath) or, worse, silently enrich that batch against a partial
    * dim. The between-batch update the StreamingSpec exercises is safe
    * because AvailableNow drains are strictly sequenced around it.
    *
    * Per-batch cost is a fresh file listing + broadcast of a
    * dimension-sized table — the price of freshness, paid once per
    * trigger, not per row; the join itself is the same broadcast
    * left-outer as the static form. The caller supplies the sink
    * (`sink(enrichedBatch, batchId)`), keeping the refresh seam
    * orthogonal to where enriched rows land — exactly the
    * foreachBatch-merge shape s04's projection upsert already uses. */
  def enrichRefreshing(stream: DataFrame, dimPath: String)(
      sink: (DataFrame, Long) => Unit): DataStreamWriter[Row] =
    BatchStore.writer(stream) { (batch, batchId) =>
      val dim = batch.sparkSession.read.parquet(dimPath)
      sink(enrich(batch, dim), batchId)
    }
}
