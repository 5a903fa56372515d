package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries.Stats

/** s38: streaming OHLC bar maintenance — q159's hourly bars kept current
  * as events land, the continuous-aggregation job every time-series
  * store (candlesticks, metrics rollups) runs at ingest. Each batch
  * writes its own per-(type, bar) partials through q159's OWN
  * `Stats.barPartials` kernel; the read merges them with the SAME
  * `Stats.mergeBars` + `Stats.finishBars` the batch query uses — one
  * definition per stage, parity by construction.
  *
  * Every partial column has its own associative and commutative merge
  * ([[BatchStore.Additive]]): open/close ride min/max over the
  * (ts, event_id, value) struct (the (ts, event_id) total order is
  * unique, so merges can never tie on the value), high/low are min/max,
  * n and the decimal volume are sums.
  *
  * Scale posture: per batch ONE map-side-combined aggregate of the batch
  * only; the store grows one calendar-bounded partition per batch
  * (types × hours rows); the read shuffles ≤ partials × batches rows.
  */
object BarStats {

  private val partials =
    BatchStore.Additive(graft.tables.Tables.EventsSchema)(Stats.barPartials)(Stats.mergeBars)

  /** One micro-batch of (event_id, ts, event_type, value): q159 partials
    * → the batch's own partition. */
  def processBatch(batch: DataFrame, storeDir: String, batchId: Long): Unit =
    partials.write(batch, storeDir, batchId)

  /** The q159-shaped bar report over everything ingested so far —
    * row-for-row equal to batch q159 on the concatenated log. */
  def bars(spark: SparkSession, storeDir: String): DataFrame =
    Stats.finishBars(partials.read(spark, storeDir))
}
