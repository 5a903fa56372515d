package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery}
import org.apache.spark.sql.types.StructType

/** The on-disk layout every streaming store shares, held in one place.
  *
  * A store is a parquet directory partitioned by `batch_id`. Micro-batch
  * b writes its rows to partition `batch_id=b`; a fold writes the base
  * partition `batch_id=-1`, which sorts below every future batch. Three
  * properties follow from the layout, and every store relies on them:
  *
  *  - Replay is a no-op. [[write]] uses dynamic partition overwrite, so
  *    an at-least-once re-run of batch b replaces its own partition
  *    instead of appending beside the first attempt. An empty frame
  *    writes no partition, so a store whose kernel is keyed ingests an
  *    empty micro-batch as a no-op without probing it first. A batch that reads
  *    prior state reads only `batch_id < b` ([[before]], [[latest]]);
  *    partitions below b are immutable once b starts (Structured
  *    Streaming commits b−1 first), so a re-run never sees its own
  *    writes and recomputes the same rows.
  *  - The fold writes the base before it deletes. [[fold]] lands the new
  *    base, then deletes the folded partitions. At every point between,
  *    each read resolves to the rows the base holds (the winning
  *    partition still exists, or the base is now its only copy), and a
  *    crashed fold re-runs to the same base.
  *  - An empty store reads as a schema-stable empty frame. A directory
  *    that was never written, or one holding only `_SUCCESS` (a dynamic
  *    overwrite whose rows were all filtered out), has no parquet footer
  *    to read; [[readOr]] and [[latest]] return the caller's empty frame
  *    instead of throwing.
  *
  * Every store read goes through one of these empty fallbacks; no store
  * reads its directory raw. A store whose rows depend on prior state or
  * on a side input states its empty frame by hand.
  *
  * An additive store keeps its read model as mergeable partials, and
  * states itself once, as an [[Additive]] record: its batch kernel
  * `partial` over its input schema, and the `merge` that combines
  * partial rows into one row per group, with the partial's columns. The
  * record owns the rest:
  *
  *  - Each batch writes the partial of the batch, and the store's read is
  *    the merge of every stored partial. While the store holds no parquet
  *    data it reads the merge of the partial of zero rows, so the written
  *    schema and the empty one cannot drift apart.
  *  - The merge is associative and commutative, so the read equals the
  *    batch kernel's merged frame over the concatenated input under any
  *    batch split, with no arrival-order assumption.
  *  - Replay is a no-op: a re-run of batch b rewrites partition b with
  *    the same partial.
  *  - Only the covered stores fold (below); they hand the same merge to
  *    [[foldCovered]], and each other additive store could fold the same
  *    way if its partition count ever demanded it.
  *
  * A keyed tail store carries, per key, the state its left fold needs
  * (an open interval, a funnel tuple, a last event) as an LWW row. Each
  * batch reads only the tails of the keys it touches ([[touchedTail]]).
  * Where the fold is order-sensitive, the store enforces an
  * arrival-order contract ([[gatedTail]]) instead of assuming it:
  *
  *  - The tail row carries the key's high-water mark in the store's
  *    order, and the gate rejects a batch whose per-key minimum reaches
  *    it, with an IllegalStateException raised before any sink write, so
  *    a rejected batch leaves every read as it was.
  *  - The contract is strict (a minimum at the mark is rejected) where
  *    a tie could re-order or re-pair state, and nondecreasing (only a
  *    minimum below the mark is rejected) where the kernel's own strict
  *    filters make a tie harmless.
  *  - A replay of batch b checks against the marks as of b−1, as its
  *    reads do, so it passes wherever the first attempt passed.
  *  - A NULL key is an ordinary key: its tail is pruned, gated and
  *    advanced like any other, as the batch kernels group it.
  *
  * A covered store is an additive store that folds. A duplicated row
  * would double-count, so it folds by a coverage watermark instead of
  * write-then-delete. Its batches write through
  * [[Additive.writeCovered]], its readers count only the live rows
  * ([[Additive.readCovered]]: the base plus the batch partitions at or
  * above the base's `covered_upto`), and it folds in two phases:
  *
  *  - [[foldCovered]] rejects a fold point below the current watermark
  *    with an IllegalArgumentException, before anything is written: a
  *    regressed watermark would make folded batch partitions live again.
  *    It then writes the store's merge of the live rows below the fold
  *    point as the new base, stamped `covered_upto = upToBatch`. The
  *    moment the base commits, readers stop counting the folded
  *    partitions, whether or not they are still on disk, and a crashed
  *    fold re-runs to the same base.
  *  - [[sweepCovered]] deletes the covered partitions. It is pure
  *    cleanup: it can crash, re-run or never run without moving a read. */
object BatchStore {

  /** An additive store (the class doc): its batch kernel `partial` over
    * the `input` columns it reads, and the `merge` of partial rows. A
    * store writes and reads through [[write]] and [[read]], or, where it
    * folds by the coverage watermark, through [[writeCovered]],
    * [[readCovered]] and [[foldCovered]]. */
  final case class Additive(input: StructType)(partial: DataFrame => DataFrame)(
      val merge: DataFrame => DataFrame) {

    /** Write the partial of `batch` as partition `batch_id=batchId`. */
    def write(batch: DataFrame, dir: String, batchId: Long): Unit =
      BatchStore.write(partial(batch), dir, batchId)

    /** The merge of every stored partial. */
    def read(spark: SparkSession, dir: String): DataFrame =
      merge(readOr(spark, dir)(empty(spark)))

    /** [[write]], with the NULL covered_upto that only a base sets. */
    def writeCovered(batch: DataFrame, dir: String, batchId: Long): Unit =
      BatchStore.write(partial(batch).withColumn("covered_upto", lit(null).cast("long")),
        dir, batchId)

    /** The merge of the partials a reader may count: the base and the
      * batch partitions it does not cover. */
    def readCovered(spark: SparkSession, dir: String): DataFrame =
      merge(BatchStore.read(spark, dir).fold(empty(spark))(live(_).drop("batch_id")))

    /** [[BatchStore.foldCovered]] with the merge as the base's resolve. */
    def foldCovered(spark: SparkSession, dir: String, upToBatch: Long): Unit =
      BatchStore.foldCovered(spark, dir, upToBatch)(merge)

    /** The partial of zero rows ([[emptyOf]] `input`). */
    private def empty(spark: SparkSession): DataFrame = partial(emptyOf(spark, input))
  }

  /** A zero-row frame of `schema`: a local relation, so building it, or a
    * plan over it, runs no job. */
  def emptyOf(spark: SparkSession, schema: StructType): DataFrame =
    spark.createDataFrame(java.util.Collections.emptyList[Row](), schema)

  /** Batches between two automatic folds of a store. */
  val FoldEvery = 8L

  /** Whether batch `batchId` folds its store first: every [[FoldEvery]]
    * batches, at the top of the batch, so a replay of it reads the base
    * (state through batchId − 1, as the unfolded read gave it). */
  def foldDue(batchId: Long): Boolean = batchId > 0 && batchId % FoldEvery == 0

  /** Write `df` as partition `batch_id=batchId` of `dir`, replacing that
    * partition and no other. */
  def write(df: DataFrame, dir: String, batchId: Long): Unit =
    df.withColumn("batch_id", lit(batchId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id")
      .parquet(dir)

  /** Every stored row with its batch_id; None while the store holds no
    * parquet data. */
  def read(spark: SparkSession, dir: String): Option[DataFrame] =
    if (hasParquetData(spark, dir)) Some(spark.read.parquet(dir)) else None

  /** [[read]], or `empty` while the store holds no parquet data. */
  def readOr(spark: SparkSession, dir: String)(empty: => DataFrame): DataFrame =
    read(spark, dir).getOrElse(empty)

  /** The rows of batches before `batchId` — what batch `batchId` may
    * read of prior state. */
  def before(spark: SparkSession, dir: String, batchId: Long)(empty: => DataFrame): DataFrame =
    read(spark, dir).fold(empty)(_.filter(col("batch_id") < batchId))

  /** Each key's row from its highest batch before `beforeBatch`, without
    * batch_id: the read of a keyed last-writer-wins store. */
  def latest(spark: SparkSession, dir: String, keys: Seq[String], beforeBatch: Long)(
      empty: => DataFrame): DataFrame =
    read(spark, dir).fold(empty)(all => lastWins(keys)(all.filter(col("batch_id") < beforeBatch)))

  /** Keep each key's row with the highest batch_id and drop batch_id.
    * NULL keys form one group. */
  def lastWins(keys: Seq[String])(rows: DataFrame): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col("batch_id").desc)
    rows.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .drop("rn", "batch_id")
  }

  /** [[lastVersion]] of the store, or `empty` while it holds no parquet
    * data. */
  def readLastVersion(spark: SparkSession, dir: String, key: String)(
      empty: => DataFrame): DataFrame =
    read(spark, dir).fold(empty)(lastVersion(key))

  /** Keep every row of each key's highest batch_id and drop batch_id: the
    * read of a store whose batch replaces a key's whole row set (a
    * document's postings, a vector's membership). NULL keys form one
    * group. */
  def lastVersion(key: String)(rows: DataFrame): DataFrame =
    rows.withColumn("_mx", max(col("batch_id")).over(Window.partitionBy(col(key))))
      .filter(col("batch_id") === col("_mx"))
      .drop("_mx", "batch_id")

  /** What batch `batchId` reads of a keyed LWW tail store: the store is
    * folded first when [[foldDue]], then each key's row from its highest
    * batch below batchId ([[latest]]). */
  def tail(spark: SparkSession, dir: String, key: String, batchId: Long)(
      empty: => DataFrame): DataFrame = {
    if (foldDue(batchId)) fold(spark, dir, batchId)(lastWins(Seq(key)))
    latest(spark, dir, Seq(key), batchId)(empty)
  }

  /** [[tail]], pruned to the keys in the `key` column of `touched`: only
    * the batch's keys can change state, everyone else's tail stays live
    * in an older partition. Null-safe, so the NULL key keeps its tail. */
  def touchedTail(spark: SparkSession, dir: String, key: String, batchId: Long,
      touched: DataFrame)(empty: => DataFrame): DataFrame =
    tail(spark, dir, key, batchId)(empty)
      .join(touched.select(col(key).as("_touched")), col(key) <=> col("_touched"), "left_semi")

  /** A keyed tail store's arrival-order contract: `mark` is the tail
    * row's high-water mark, compared with the batch's per-key minimum in
    * the same order; `strict` rejects a minimum at the mark, otherwise
    * only one below it. `why` says what a late event would break. */
  final case class Arrival(store: String, why: String, mark: Column, strict: Boolean)

  /** Run `body` on the [[touchedTail]] of the keys of `mins` (columns
    * `key` and `mn`, the batch's per-key minimum in `arrival`'s order)
    * once the batch has passed the arrival gate. The tail is evaluated
    * once: persisted, first computed by the gate's single-branch collect,
    * then read by `body` from the cache, and released when `body`
    * returns. */
  def gatedTail[T](spark: SparkSession, dir: String, key: String, batchId: Long,
      mins: DataFrame, arrival: Arrival)(empty: => DataFrame)(body: DataFrame => T): T = {
    val tail = touchedTail(spark, dir, key, batchId, mins)(empty).persist()
    try {
      val cmp = if (arrival.strict) "<=" else "<"
      val late = mins
        .join(tail.select(col(key).as("_k"), arrival.mark.as("_mark")), col(key) <=> col("_k"))
        .filter(if (arrival.strict) col("mn") <= col("_mark") else col("mn") < col("_mark"))
        .select(col(key), col("mn"), col("_mark"))
        .limit(3).collect()
      if (late.nonEmpty) throw violation(arrival.store, batchId, arrival.why,
        late.toSeq.map(r => s"$key ${r.get(0)}: batch min ${r.get(1)} $cmp mark ${r.get(2)}"))
      body(tail)
    } finally tail.unpersist()
  }

  /** The error a store's arrival gate raises for batch `batchId`. */
  def violation(store: String, batchId: Long, why: String,
      found: Seq[String]): IllegalStateException =
    new IllegalStateException(
      s"$store arrival-order contract violated in batch $batchId ($why): ${found.mkString("; ")}")

  /** Fold every batch partition below `upToBatch`, plus the previous
    * base, into one new base partition, then delete the folded batch
    * partitions. `resolve` receives those rows (batch_id included) and
    * returns the rows the base keeps, without batch_id. A no-op when no
    * batch partition lies below `upToBatch`. */
  def fold(spark: SparkSession, dir: String, upToBatch: Long)(
      resolve: DataFrame => DataFrame): Unit =
    if (partitionsBelow(spark, dir, upToBatch).nonEmpty) {
      val base = resolve(spark.read.parquet(dir)
          .filter(col("batch_id").cast("long") < upToBatch)) // incl. the previous base (−1)
        .localCheckpoint(true) // pin: the overwrite below rewrites the source path
      write(base, dir, -1L)
      sweep(spark, dir, upToBatch)
    }

  /** Delete the batch partitions 0 ≤ batch_id < `below`. */
  def sweep(spark: SparkSession, dir: String, below: Long): Unit = {
    val fs = fileSystem(spark, new Path(dir))
    partitionsBelow(spark, dir, below).foreach(p => fs.delete(p, true))
  }

  /** Fold an additive store's live rows below `upToBatch` into a new base
    * with covered_upto = upToBatch (the class doc's first phase).
    * `resolve` receives those rows as [[Additive.readCovered]] merges
    * them and returns the rows the base keeps. */
  def foldCovered(spark: SparkSession, dir: String, upToBatch: Long)(
      resolve: DataFrame => DataFrame): Unit =
    read(spark, dir).foreach { all =>
      val current = coveredUpto(all)
      require(upToBatch >= current,
        s"fold of $dir to batch $upToBatch is below its covered_upto $current: " +
          "a regressed watermark re-exposes folded batch partitions")
      val base = resolve(live(all).filter(col("batch_id") < upToBatch).drop("batch_id"))
        .localCheckpoint(true) // pin: the overwrite below rewrites the source path
      write(base.withColumn("covered_upto", lit(upToBatch)), dir, -1L)
    }

  /** Delete the batch partitions an additive store's base covers (the
    * class doc's second phase). */
  def sweepCovered(spark: SparkSession, dir: String): Unit =
    read(spark, dir).foreach(all => sweep(spark, dir, coveredUpto(all)))

  /** An additive store's coverage watermark: the base partition's
    * covered_upto, 0 when no base exists. One row, so [[live]] can
    * broadcast it without a driver round-trip. Readers, fold guards and
    * sweeps must all use this one aggregate: if they disagreed, a read
    * would double-count or a sweep would over-delete. */
  private def coveredUptoFrame(all: DataFrame): DataFrame =
    all.filter(col("batch_id") === -1L)
      .agg(coalesce(max(col("covered_upto")), lit(0L)).as("_upto"))

  /** [[coveredUptoFrame]] as a driver value. */
  private def coveredUpto(all: DataFrame): Long =
    coveredUptoFrame(all).collect()(0).getLong(0)

  /** The base plus the batch partitions it does not cover, without
    * covered_upto. */
  private def live(all: DataFrame): DataFrame =
    all.crossJoin(broadcast(coveredUptoFrame(all)))
      .filter(col("batch_id") === -1L || col("batch_id") >= col("_upto"))
      .drop("_upto", "covered_upto")

  /** Run `processBatch(batch, batchId)` on every micro-batch of `source`,
    * checkpointed at `checkpointDir`. */
  def start(source: DataFrame, checkpointDir: String)(
      processBatch: (DataFrame, Long) => Unit): StreamingQuery =
    writer(source)(processBatch)
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .start()

  /** The unstarted form of [[start]], for callers that set their own
    * checkpoint and trigger. */
  def writer(source: DataFrame)(processBatch: (DataFrame, Long) => Unit): DataStreamWriter[Row] =
    source.writeStream.foreachBatch(processBatch)

  private def fileSystem(spark: SparkSession, path: Path): FileSystem =
    FileSystem.get(path.toUri, spark.sparkContext.hadoopConfiguration)

  /** True iff `dir` exists and holds at least one parquet data file,
    * searching partition directories recursively. Metadata files
    * (`_SUCCESS`, `.*.crc`, …) do not count. */
  private def hasParquetData(spark: SparkSession, dir: String): Boolean = {
    val path = new Path(dir)
    val fs = fileSystem(spark, path)
    if (!fs.exists(path)) return false
    val it = fs.listFiles(path, true)
    while (it.hasNext) {
      val n = it.next().getPath.getName
      if (n.endsWith(".parquet") && !n.startsWith("_") && !n.startsWith("."))
        return true
    }
    false
  }

  /** The partition directories `batch_id=b` of `dir` with 0 ≤ b < `below`. */
  private def partitionsBelow(spark: SparkSession, dir: String, below: Long): Seq[Path] = {
    val path = new Path(dir)
    val fs = fileSystem(spark, path)
    if (!fs.exists(path)) return Seq.empty
    fs.listStatus(path).toSeq.map(_.getPath).filter { p =>
      p.getName.startsWith("batch_id=") &&
        p.getName.stripPrefix("batch_id=").toLongOption.exists(b => b >= 0 && b < below)
    }
  }
}
