package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.queries.Text

/** s15: streaming incremental inverted index — the PRODUCTION form of
  * q91's batch index build: documents arrive as a stream and the
  * (token, doc_id, tf) posting store is maintained incrementally, with
  * the q91 aggregation (df / cf / bounded posting sample) as a read-side
  * VIEW over the store rather than a corpus rebuild.
  *
  * `foreachBatch` writes each micro-batch's term frequencies — computed
  * by the SAME [[Text.termFrequencies]] kernel q91 uses, so batch and
  * stream tokenize identically by construction — as the batch's own
  * partition. Unlike s14's admission transaction, the upsert never READS
  * the store: a batch's postings are a pure function of the batch, so
  * the write is the whole transaction.
  *
  * A doc_id re-submitted in a later batch is an UPDATE: the read view
  * resolves last-writer-wins per doc (keep the rows of the doc's max
  * batch_id — q27's LWW projection discipline applied to postings), so
  * stale postings of the superseded version never reach the index. The
  * fold ([[compactStore]]) resolves LWW physically: superseded doc
  * versions are dropped, not carried.
  *
  * Scale posture: per batch, work is ONE map-side-combined aggregation of
  * the batch's token stream and an append-sized partition write — the
  * corpus-scale token stream is never re-shuffled. The read view is q91's
  * two-exchange plan over the store plus the LWW window; after
  * compaction the store is one partition of (token, doc_id, tf) rows —
  * vocab × avg-df, the same frame q91 aggregates. */
object IncrementalIndex {

  /** The postings of zero documents: the store's empty read. */
  private def noPostings(spark: SparkSession): DataFrame =
    Text.termFrequencies(
      BatchStore.emptyOf(spark, StructType.fromDDL("doc_id BIGINT, text STRING")))

  /** One micro-batch upsert. Exposed for direct testing. */
  def processBatch(batch: DataFrame, storeDir: String, batchId: Long): Unit = {
    if (BatchStore.foldDue(batchId))
      compactStore(batch.sparkSession, storeDir, batchId)
    BatchStore.write(Text.termFrequencies(batch), storeDir, batchId)
  }

  /** The store's current posting rows after per-doc LWW resolution —
    * (token, doc_id, tf), one version per doc. */
  private def currentPostings(spark: SparkSession, storeDir: String): DataFrame =
    BatchStore.readLastVersion(spark, storeDir, "doc_id")(noPostings(spark))

  /** The index as q91 would report it over the streamed corpus: the q91
    * aggregation applied to the LWW-resolved store (the batch-parity law
    * in StreamingSpec is equality with Text.q91 after streaming the same
    * documents). */
  def readIndex(spark: SparkSession, storeDir: String): DataFrame =
    Text.indexOf(currentPostings(spark, storeDir))

  /** Fold every committed partition below `upToBatch` into one
    * LWW-resolved base partition. */
  def compactStore(spark: SparkSession, storeDir: String, upToBatch: Long): Unit =
    BatchStore.fold(spark, storeDir, upToBatch)(BatchStore.lastVersion("doc_id"))

  /** s18: BM25 search served FROM the incremental store — the query-time
    * read path that makes s15 an index rather than an archive. Document
    * lengths come from the store itself (Σtf per doc IS the whitespace
    * token count, exactly q92's `size(split(text))`), the tf frame is the
    * LWW-resolved postings filtered to the query terms, and the scoring
    * is the SAME [[Text.bm25Rank]] kernel q92 runs — so search-vs-batch
    * parity is by construction, pinned as a StreamingSpec law (equality
    * with Text.q92 after streaming the same corpus, and LWW: an updated
    * doc is scored only in its latest version).
    *
    * Scale posture: the length frame is one map-side-combined aggregate
    * of the store (vocab × avg-df rows, already far below corpus token
    * scale); the term filter bounds the scoring side to the query terms'
    * posting lists before any shuffle (q92's argument); the final
    * ranking is a TakeOrdered. The LWW window rides the store's own
    * doc_id partitioning. */
  def search(spark: SparkSession, storeDir: String,
      terms: Seq[String] = Text.Bm25Query): DataFrame = {
    // Materialize the LWW resolution ONCE: dl and tf both derive from it,
    // and without the pin the full store scan + max-batch window would
    // execute twice per search.
    val cur = currentPostings(spark, storeDir).localCheckpoint(true)
    val dl = cur.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
    val tf = cur.filter(col("token").isin(terms: _*))
      .select(col("doc_id"), col("token"), col("tf"))
    Text.bm25Rank(tf, dl)
  }
}
