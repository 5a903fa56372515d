package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.tables.Tables

/** Sequence packing (SURVEY.md §2.2 q96) — the batch-assembly step between
  * a tokenized corpus and a trainer: place documents into fixed
  * context-window bins so each training sequence wastes as little of the
  * window as possible. This is the no-split greedy NEXT-FIT discipline
  * (a document is never divided across bins; a bin closes when the next
  * document would overflow it) — the complement of q72's concat-and-split
  * sharding, which models the GPT-style pack-then-cut layout. The
  * reference corpus analytics stop at per-document stats; this operator is
  * part of the training-pipeline surface the engine adds on top
  * (builder brief: "operations a large-scale training-data pipeline
  * would need").
  *
  * Semantics, exactly mirrored by the oracle's recursive CTE:
  *  - shard_id = doc_id mod [[PackShards]] — stands in for the layout's
  *    shard assignment; bins never cross shards, so every shard packs
  *    independently (the parallelism unit).
  *  - within a shard, documents are visited in doc_id order; the token
  *    length is capped at [[PackContext]] (real pipelines truncate
  *    documents longer than the context window rather than drop them).
  *  - next-fit: bin 0 opens with the first document; a document goes into
  *    the current bin iff fill + t ≤ C, else it opens bin+1. (A full-size
  *    C-token document therefore fills a fresh bin exactly.)
  *
  * Scale posture: packing is an inherently SEQUENTIAL scan per shard
  * (bin state is a non-associative recurrence — no prefix-sum
  * factorization exists), so the design makes the shard the unit of
  * parallelism and keeps the per-shard state O(1): one hash shuffle on
  * shard_id, a within-partition sort, and a STREAMING iterator fold in
  * [[packAssignments]] that carries (shard, fill, bin) and emits one row
  * per document — no per-shard buffering at all, so a 10⁶-document shard
  * costs the sort plus a linear pass. This is one of the three defended
  * `mapPartitions` seams in the engine (with the q57 union-find
  * contraction and the media codec): the declarative twin
  * [[packComposedFrame]] (sort_array ∘ collect_list ∘ aggregate-HOF)
  * expresses the same fold but copies its accumulator array per element —
  * O(n²) in shard size — so it serves as the executable spec
  * (PropertySpec pins bit-equality on every shard) while the streaming
  * form is the production path. The final per-bin summary is an ordinary
  * partial+final aggregate, output rows = Σ tokens / C, corpus-scale ÷ C.
  */
object Pack {

  /** Context-window token budget per bin. */
  val PackContext = 256L

  /** Shard fan-out — models the layout's shard width; each shard packs
    * independently and sequentially. */
  val PackShards = 8L

  /** Per-document frame: (shard_id, doc_id, t) with t capped at C. */
  private[graft] def docFrame(spark: SparkSession, sfDir: String): DataFrame =
    docsOf(Tables.documents(spark, sfDir))

  /** (shard_id, doc_id, t) of a (doc_id, text, …) frame. */
  private[graft] def docsOf(docs: DataFrame): DataFrame =
    docs.select((col("doc_id") % PackShards).as("shard_id"), col("doc_id"),
      least(size(split(col("text"), " ")).cast("long"), lit(PackContext)).as("t"))

  /** The streaming per-shard fold: rows arrive hash-clustered by shard and
    * sorted (shard_id, doc_id) within the partition; the iterator carries
    * only the open bin's (shard, fill, bin) and emits (shard_id, doc_id,
    * t, bin_id, fill_after) per document. A partition may hold several
    * whole shards — state resets when shard_id changes, to the shard's
    * carried (fill, bin) in `seed` (s23's stored tails) or, for a shard
    * with no seed, to "no open bin yet" (a fresh shard opens bin 0 with
    * its first doc). */
  private[graft] def packAssignments(spark: SparkSession, docs: DataFrame,
      seed: Map[Long, (Long, Long)] = Map.empty): DataFrame = {
    import spark.implicits._
    docs.select(col("shard_id"), col("doc_id"), col("t"))
      .repartition(col("shard_id"))
      .sortWithinPartitions(col("shard_id"), col("doc_id"))
      .as[(Long, Long, Long)]
      .mapPartitions { it =>
        var shard = Long.MinValue
        var fill = -1L
        var bin = 0L
        it.map { case (s, d, t) =>
          if (s != shard) {
            shard = s
            val (sf, sb) = seed.getOrElse(s, (-1L, 0L))
            fill = sf; bin = sb
          }
          if (fill < 0L) { bin = 0L; fill = t }
          else if (fill + t > PackContext) { bin += 1L; fill = t }
          else fill += t
          (s, d, t, bin, fill)
        }
      }
      .toDF("shard_id", "doc_id", "t", "bin_id", "fill_after")
  }

  /** Declarative twin of [[packAssignments]] — the executable spec: per
    * shard, sort_array(collect_list(struct(doc_id, t))) fixes the visit
    * order (struct ordering is lexicographic on doc_id), then a single
    * `aggregate` higher-order fold replays the next-fit recurrence into an
    * assignments array that posexplode turns back into rows. Correct at
    * any size but quadratic in shard length (array append copies the
    * accumulator), so it stays a spec, not the shipped path. */
  private[graft] def packComposedFrame(spark: SparkSession, docs: DataFrame): DataFrame = {
    val folded = docs
      .groupBy(col("shard_id"))
      .agg(sort_array(collect_list(struct(col("doc_id"), col("t")))).as("ds"))
      .select(col("shard_id"),
        aggregate(col("ds"),
          struct(lit(-1L).as("fill"), lit(0L).as("bin"),
            array().cast("array<struct<doc_id:bigint,t:bigint,bin_id:bigint>>").as("asg")),
          (acc, e) => {
            val fresh = acc("fill") < 0 || acc("fill") + e("t") > PackContext
            val bin = when(acc("fill") < 0, 0L)
              .when(acc("fill") + e("t") > PackContext, acc("bin") + 1L)
              .otherwise(acc("bin"))
            val fill = when(fresh, e("t")).otherwise(acc("fill") + e("t"))
            struct(fill.as("fill"), bin.as("bin"),
              concat(acc("asg"),
                array(struct(e("doc_id").as("doc_id"), e("t").as("t"), bin.as("bin_id"))))
                .as("asg"))
          },
          acc => acc("asg")).as("asg"))
      .select(col("shard_id"), explode(col("asg")).as("a"))
    folded.select(col("shard_id"), col("a.doc_id").as("doc_id"),
      col("a.t").as("t"), col("a.bin_id").as("bin_id"))
  }

  /** q96: per-bin packing summary — bin occupancy, token fill, and the
    * doc_id range each bin covers (shard member ids step by
    * [[PackShards]]). fill4 is the ratio4-disciplined window utilization
    * the pipeline monitors: mean fill below ~0.85 means the corpus's
    * length distribution wants a smarter packer (first-fit-decreasing)
    * or a larger context. */
  def q96(spark: SparkSession, sfDir: String): DataFrame =
    binSummary(packAssignments(spark, docFrame(spark, sfDir)))

  /** Per-(shard_id, bin_id) summary of (shard_id, doc_id, t, bin_id)
    * assignments: q96's output, and s23's read over every batch packed. */
  private[graft] def binSummary(asg: DataFrame): DataFrame =
    asg.groupBy(col("shard_id"), col("bin_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("t")).as("bin_tokens"),
        min(col("doc_id")).as("min_doc"),
        max(col("doc_id")).as("max_doc"))
      .withColumn("fill4", graft.ops.Dsl.ratio4(col("bin_tokens"), lit(PackContext)))
      .orderBy(col("shard_id"), col("bin_id"))
}
