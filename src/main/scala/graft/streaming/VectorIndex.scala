package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.ops.Dsl.{cosine, round4}
import graft.queries.Vectors

/** s17: streaming IVF vector index — the PRODUCTION form of the q55/q56/
  * q90 batch family, completing for vectors what s15 does for text: the
  * coarse quantizer (codebook) is trained offline and held static (the
  * universal IVF deployment shape — retraining is a batch event, not a
  * stream operation), embeddings arrive as a micro-batch stream, and the
  * cell-membership postings are maintained incrementally so queries probe
  * the index instead of re-assigning the corpus.
  *
  * `foreachBatch` assigns each batch against the broadcast codebook with
  * the SAME [[Vectors.assign]] kernel the batch queries use (one
  * tie-break definition — csim DESC, cell ASC — everywhere), and writes
  * (vec_id, cell, embedding) into the batch's own partition. Like s15
  * and unlike s14, the upsert never reads the store (a batch's
  * assignments are a pure function of batch × codebook). A re-streamed
  * vec_id is an UPDATE — the read view resolves last-writer-wins per
  * vec_id, and compaction folds the store to one LWW-resolved base.
  *
  * Scale posture: per batch, work is one broadcast-codebook map-side
  * similarity pass + one row_number shuffle on vec_id (batch-sized, not
  * corpus-sized) + an append-sized partition write. The probe mirrors
  * q56: rank ncells centroids against the query (broadcast, O(ncells)),
  * semi-join the NProbe surviving cells against the store — the scan is
  * Σ|probed cells|, never |corpus| — and TakeOrdered the exact cosines.
  * Cell-skew on the probe join is q90's known hazard; its salting applies
  * unchanged if a deployment's cells grow hot. */
object VectorIndex {

  /** One micro-batch upsert: assign against the static codebook, land in
    * this batch's own partition. Exposed for direct testing. */
  def processBatch(batch: DataFrame, cells: DataFrame, storeDir: String,
      batchId: Long): Unit = {
    if (BatchStore.foldDue(batchId))
      compactStore(batch.sparkSession, storeDir, batchId)
    BatchStore.write(Vectors.assign(batch.select(col("vec_id"), col("embedding")), cells),
      storeDir, batchId)
  }

  /** The index's current membership after per-vector LWW resolution —
    * (vec_id, embedding, cell), one version per vector. The cells come
    * from the codebook, a side input, so the empty membership is stated
    * here. */
  def currentMembers(spark: SparkSession, storeDir: String): DataFrame =
    BatchStore.readLastVersion(spark, storeDir, "vec_id")(BatchStore.emptyOf(spark,
      StructType.fromDDL("vec_id BIGINT, embedding ARRAY<FLOAT>, cell INT")))

  /** q56's probe against the streamed store: the stored vector `qId`
    * ranks the codebook cells, its NProbe nearest are semi-joined against
    * the membership, and the survivors rank by exact cosine — top k. */
  def probe(spark: SparkSession, storeDir: String, cells: DataFrame,
      qId: Long, k: Int): DataFrame = {
    val cur = currentMembers(spark, storeDir)
    val qv = cur.filter(col("vec_id") === qId).select(col("embedding").as("qvec"))
    val qcells = cells.crossJoin(broadcast(qv))
      .select(col("cell"), cosine(col("cvec"), col("qvec")).as("csim"))
      .orderBy(col("csim").desc, col("cell")).limit(Vectors.NProbe)
      .select(col("cell"))
    cur.join(broadcast(qcells), Seq("cell"))
      .filter(col("vec_id") =!= qId)
      .join(broadcast(qv))
      .select(col("vec_id"), col("cell"),
        round4(cosine(col("embedding"), col("qvec"))).as("sim"))
      .orderBy(col("sim").desc, col("vec_id"))
      .limit(k)
  }

  /** Fold every committed partition below `upToBatch` into one
    * LWW-resolved base partition. */
  def compactStore(spark: SparkSession, storeDir: String, upToBatch: Long): Unit =
    BatchStore.fold(spark, storeDir, upToBatch)(BatchStore.lastVersion("vec_id"))
}
