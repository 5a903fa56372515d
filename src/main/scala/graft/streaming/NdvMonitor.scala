package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** s52: streaming NDV (distinct-count) monitor — the sketch twin of the
  * exact monitors (s29 value counts, s36 daily counts): per-event-type
  * DISTINCT USERS tracked at ingest through Spark 4's built-in Apache
  * DataSketches HLL functions (`hll_sketch_agg` / `hll_union_agg` /
  * `hll_sketch_estimate`, backed by the shipped datasketches-java).
  * "How many distinct users did each event type touch?" is the one
  * cardinality question every monitoring layer asks that NO additive
  * count store can answer (distinct doesn't sum across batches) — and
  * the textbook answer is exactly a mergeable sketch store.
  *
  * Why this store is the 100 TB shape: an HLL sketch is a FIXED-SIZE
  * register array whose merge (register-wise max / coupon-set union) is
  * associative, commutative and order-free — so per batch the store
  * appends one (event_type, sketch) row of ~KB size, and the read
  * unions ≤ types × uncompacted-batches sketches. The event log is
  * never re-scanned; the store size is independent of corpus size
  * (contrast s29, whose bound is the value grid). The merge-exactness
  * law below is what q53's approx_count_distinct (HLL++, no exposed
  * binary) cannot offer — which is why the STREAMING NDV rides
  * DataSketches while q53 remains the batch sketch exemption.
  *
  * Laws (StreamingSpec): (1) any-split parity — union-of-partials
  * estimates EQUAL the one-shot sketch on the concatenated input (with
  * one lgK everywhere, DataSketches' union is register-wise max, i.e.
  * sketch(A ∪ B) = sketch(A) ∪ sketch(B) exactly); (2) small-cardinality
  * exactness — below the sparse-mode threshold the estimate IS the
  * exact distinct count (planted); (3) replay no-op.
  *
  * Scale posture: per batch ONE map-side-combined sketch aggregate at
  * event-type cardinality; read = one union shuffle over KB-sized rows.
  */
object NdvMonitor {

  /** lgK for every sketch in the store — merge exactness requires one
    * width end to end (a union across widths downsizes, breaking the
    * one-shot-equality law, not correctness). 12 → ~2.5 KB max, <1%
    * relative standard error. */
  val LgK = 12

  /** Per event type: the HLL sketch of its users. */
  private val sketches = BatchStore.Additive(graft.tables.Tables.EventsSchema)(
    _.groupBy(col("event_type")).agg(expr(s"hll_sketch_agg(user_id, $LgK)").as("sketch")))(
    _.groupBy(col("event_type"))
      // allowDifferentLgConfigK=false: every sketch in the store is
      // written at the one LgK above; a foreign-width sketch must fail
      // the read loudly rather than silently downsize the union and
      // break the one-shot-equality parity law.
      .agg(expr("hll_union_agg(sketch, false)").as("sketch")))

  /** One micro-batch of (event_type, user_id): per-type HLL sketch
    * partial → the batch's own partition. */
  def processBatch(batch: DataFrame, storeDir: String, batchId: Long): Unit =
    sketches.write(batch, storeDir, batchId)

  /** Distinct-user estimate per event type over everything ingested so
    * far — equal to the one-shot sketch estimate on the concatenated
    * log (the union-merge law). */
  def ndv(spark: SparkSession, storeDir: String): DataFrame =
    sketches.read(spark, storeDir)
      .select(col("event_type"), expr("hll_sketch_estimate(sketch)").as("ndv_users"))
      .orderBy(col("event_type"))

  /** The one-shot reference the parity law compares against: sketch the
    * whole frame in one aggregate, same lgK. */
  private[graft] def oneShot(ev: DataFrame): DataFrame =
    ev.groupBy(col("event_type"))
      .agg(expr(s"hll_sketch_agg(user_id, $LgK)").as("sketch"))
      .select(col("event_type"),
        expr("hll_sketch_estimate(sketch)").as("ndv_users"))
      .orderBy(col("event_type"))
}
