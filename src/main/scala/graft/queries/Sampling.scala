package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ops.Dsl._
import graft.tables.Tables

/** Deterministic sampling / split operators over `documents` — the
  * dataset-assignment stage of a training-data pipeline (round-3 surface
  * growth, SURVEY.md §2.2 q51/q52).
  *
  * Both are built on the shared 60-bit content hash (Dsl.h60, mirrored
  * constant-for-constant in OracleSql), NOT on rand(): assignment is a pure
  * function of the row key, so it is reproducible across runs, engines, and
  * cluster sizes, and a re-run after appending new documents never moves an
  * existing document between splits — the property that keeps train/test
  * contamination out when the corpus grows. Salted per operator
  * ("split:" / "strat:") so the two assignments are independent.
  *
  * Scale posture: q51 is one map-side hash + a 3-group aggregate (no
  * shuffle beyond the partial/final agg); q52 is one window per language —
  * a single shuffle on the stratum key, top-k within each partition.
  */
object Sampling {

  /** q51: train/val/test split (80/10/10) by hash bucket of the doc key.
    * Audit-style output: per-split document count and char volume. */
  def q51(spark: SparkSession, sfDir: String): DataFrame = {
    val bucket = h60(concat(lit("split:"), col("doc_id").cast("string"))) % 100
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("n_chars"),
        when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
          .as("split"))
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"),
        min(col("doc_id")).as("min_doc"),
        max(col("doc_id")).as("max_doc"))
      .orderBy(col("split"))
  }

  /** q52: balanced stratified sample — exactly k documents per language,
    * chosen by hash order (a deterministic per-stratum reservoir): the
    * class-balancing subsample in front of training. Hash ties broken by
    * doc_id so the selection is a total order. */
  val StratumK = 20

  def q52(spark: SparkSession, sfDir: String): DataFrame = {
    val hk = h60(concat(lit("strat:"), col("doc_id").cast("string")))
    val w = Window.partitionBy(col("lang")).orderBy(col("hk"), col("doc_id"))
    Tables.documents(spark, sfDir)
      .select(col("lang"), col("doc_id"), hk.as("hk"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= StratumK)
      .select(col("lang"), col("doc_id"), col("rk"))
      .orderBy(col("lang"), col("rk"))
  }

  /** q71 vocabulary size: tokens kept; everything else becomes `<unk>`. */
  val VocabK = 20

  /** q71: OOV redaction — vocabulary truncation, the tokenizer-adjacent
    * preprocessing step: train a top-K vocabulary on the corpus (count
    * desc, token asc — q30's exact ranking), map every out-of-vocabulary
    * token to `<unk>`, and audit per doc: token count, unk count, unk
    * rate, and the md5 of the redacted text (position-faithful — the
    * digest is what a downstream exact-dedup over REDACTED text keys on).
    *
    * Scale posture: the vocabulary is a tiny aggregate of the token
    * stream (map-side combined; the global top-K window runs over VOCAB
    * rows, not tokens); redaction is a broadcast-size left join onto the
    * positional token stream; reassembly sorts each doc's OWN array
    * (the q63 pattern), never the stream. */
  def q71(spark: SparkSession, sfDir: String): DataFrame = {
    // pinned: the positional token stream feeds both the vocabulary
    // aggregate and the redaction join (the q36 shared-stream pattern —
    // without it the scan+explode subtree runs twice). Eager
    // localCheckpoint, not lazy cache: `vocab` derives from this frame
    // and joins back onto it (q104 shape; r9 pinning sweep).
    val tok = Tables.documents(spark, sfDir)
      .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("pos", "token")))
      .localCheckpoint(true)
    // top-K by (count desc, token asc) as orderBy+limit, which plans as
    // TakeOrderedAndProject: each partition keeps its local top-K and the
    // driver merges K·P rows — vs the previous global row_number window,
    // which serialized the whole vocabulary through one task. Ties broken
    // by token, so the selection is the same total order as before.
    val vocab = tok.groupBy(col("token")).agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("token"))
      .limit(VocabK)
      .select(col("token"), lit(true).as("in_vocab"))
    tok.join(broadcast(vocab), Seq("token"), "left")
      .select(col("doc_id"), col("pos"),
        when(col("in_vocab").isNotNull, col("token")).otherwise("<unk>").as("rt"))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_tokens"),
        sum(when(col("rt") === "<unk>", 1L).otherwise(0L)).as("n_unk"),
        md5(array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("rt")))),
          s => s.getField("rt")), " ").cast("binary")).as("redacted_md5"))
      .select(col("doc_id"), col("n_tokens"), col("n_unk"),
        ratio4(col("n_unk"), col("n_tokens")).as("unk_rate"), // D6: integer ratio
        col("redacted_md5"))
      .orderBy(col("doc_id"))
  }

  /** q72 shard budget: target token volume per training shard. */
  val ShardBudget = 2000L

  /** q72: token-budget shard assignment — pack the corpus (in doc_id
    * order) into training shards of ~ShardBudget tokens each: a doc's
    * shard is its starting token offset divided by the budget, so shard
    * boundaries never reorder documents and a doc lands in exactly one
    * shard. Output: per-shard doc count, token volume, doc range.
    *
    * A doc's starting offset is the exclusive running token sum in doc_id
    * order, by the two-phase distributed prefix sum
    * ([[graft.ops.Dsl.runningSum]]): no row ever passes through a global
    * single-task window, and wherever the range sampler cuts, the shard
    * assignment (and the oracle hash) cannot move. */
  def q72(spark: SparkSession, sfDir: String): DataFrame = {
    val d = Tables.documents(spark, sfDir)
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("n_tokens"))
    runningSum(d, "n_tokens", Seq(col("doc_id")), "cum")
      .select(col("doc_id"), col("n_tokens"),
        ((col("cum") - col("n_tokens")) / ShardBudget).cast("long").as("shard_id"))
      .groupBy(col("shard_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("shard_tokens"),
        min(col("doc_id")).as("min_doc"),
        max(col("doc_id")).as("max_doc"))
      .orderBy(col("shard_id"))
  }

  /** q79 keep-probability clamp: every document keeps at least a floor
    * chance (tail languages aren't wiped out) and none is certain. */
  val QwMinP = 0.1
  val QwMaxP = 0.9

  /** q79 hash granularity: keep iff h60 mod QwScale < ⌊p·QwScale⌋. */
  val QwScale = 1000000L

  /** q79: quality-weighted downsampling — the data-mixing step between
    * scoring and training: each document survives with probability equal
    * to its (clamped) type-token ratio, q40's quality signal, so
    * low-diversity documents are downweighted instead of hard-dropped.
    * The coin is h60 of the salted doc key, NOT rand(): the decision is a
    * pure row function — reproducible across runs/engines/cluster sizes,
    * append-stable (q51's property), and exactly mirrorable in the
    * oracle. ⌊p·QwScale⌋ compares as integers on both engines (p itself
    * is one identical IEEE division, clamped). Output: per-language audit
    * of survivors. Map-side hash + one tiny aggregate — no shuffle beyond
    * the partial/final agg, any scale. */
  def q79(spark: SparkSession, sfDir: String): DataFrame = {
    val sp = split(col("text"), " ")
    val ttr = size(array_distinct(sp)).cast("double") / size(sp).cast("double")
    val p = least(greatest(ttr, lit(QwMinP)), lit(QwMaxP))
    val kept = (h60(concat(lit("qw:"), col("doc_id").cast("string"))) % QwScale) <
      floor(p * QwScale).cast("long")
    Tables.documents(spark, sfDir)
      .select(col("lang"), col("n_chars"), kept.as("kept"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_total"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("kept"), col("n_chars")).otherwise(0L)).as("kept_chars"))
      .select(col("lang"), col("n_total"), col("n_kept"),
        ratio4(col("n_kept"), col("n_total")).as("kept_rate"),
        col("kept_chars"))
      .orderBy(col("lang"))
  }

  /** q80 planned training-token budget distributed across the mixture. */
  val MixTargetTokens = 100000L

  /** q80: dataset mixture weights — given per-source token volumes,
    * allocate a training budget by the sqrt-scaling rule (weight ∝
    * √tokens, the standard temperature-style flattening that upweights
    * small sources relative to proportional sampling): per source, its
    * mixture weight, its planned token allocation, and the epoch count
    * (planned/available — > 1 means the source repeats).
    *
    * Everything after the per-source token sums is EXACT INTEGER
    * arithmetic: √tokens goes through floor(sqrt(x)) — IEEE sqrt is
    * correctly rounded (a hardware op, unlike libm ln), and the nearest
    * true square is ~1/(2√x) away, so the floor is the true integer
    * square root on both engines — and weights/epochs are ratio4s of
    * BIGINTs. The totals row is a broadcast single-row aggregate (the
    * q74 pattern), never a driver collect. Source cardinality is tiny by
    * construction; the heavy part is one map-side-combined sum over the
    * corpus. */
  def q80(spark: SparkSession, sfDir: String): DataFrame =
    mixBudgets(Tables.documents(spark, sfDir)
        .select(col("source"), size(split(col("text"), " ")).cast("long").as("n_tok")))
      .select(col("source"), col("n_docs"), col("tokens"),
        ratio4(col("isqrt"), col("w_total")).as("weight"),
        col("planned_tokens"),
        ratio4(col("planned_tokens"), col("tokens")).as("epochs"))
      .orderBy(col("source"))

  /** The q80 budget core on a (source, n_tok) frame — per-source volumes,
    * integer sqrt weights and planned token allocations — shared with the
    * q145 realization so "the budget" has exactly one definition. */
  private[graft] def mixBudgets(tok: DataFrame): DataFrame = {
    val perSrc = tok
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("tokens"))
      .select(col("source"), col("n_docs"), col("tokens"),
        floor(sqrt(col("tokens").cast("double"))).as("isqrt"))
    val total = perSrc.agg(sum(col("isqrt")).as("w_total"))
    perSrc.crossJoin(broadcast(total))
      .withColumn("planned_tokens", expr(s"(isqrt * ${MixTargetTokens}L) div w_total"))
  }

  /** q145: mixture REALIZATION — the admission step q80's budget panel
    * feeds: actually pick which documents fill each source's planned
    * token allocation. Per source, documents are admitted in
    * deterministic hash order (h60("mix:"+doc_id), doc_id tiebreak — the
    * q52 reservoir discipline, a fresh salt so the selection is
    * independent of every other sampling coin) while the RUNNING token
    * sum stays within the budget — prefix admission, the rule a sharded
    * writer can apply per partition once ranks are assigned. Output is
    * the per-source audit: volumes, budget, admitted docs/tokens, and
    * the fill rate (exact-integer ratio4; NULL when the budget is 0).
    * A source whose budget exceeds its corpus admits everything
    * (epochs > 1 in q80's panel) — fill < 1 reports the shortfall
    * rather than inventing repeats.
    *
    * Scale posture: ONE user-visible shuffle — the per-source running
    * sum (window over (hk, doc_id); partitioned by source, never
    * global); budgets are source-cardinality and broadcast; the audit
    * aggregate map-side combines. The admitted SET is deterministic and
    * append-stable in the q51 sense: a new document perturbs only ranks
    * at or after its own hash position. */
  def q145(spark: SparkSession, sfDir: String): DataFrame =
    realizeMixture(
      Tables.documents(spark, sfDir)
        .select(col("source"), col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("n_tok")))

  /** q145 core on a (source, doc_id, n_tok) frame — exposed so the
    * LlmOpsSpec law can exercise the budget CUT on a planted corpus
    * (sf0.001 is smaller than the production token target, so every
    * source fits its budget there and the prefix rule would go
    * untested). */
  private[graft] def realizeMixture(tokIn: DataFrame): DataFrame = {
    val admitted = col("admitted")
    admissions(tokIn)
      .groupBy(col("source"))
      .agg(max(col("n_docs")).as("n_docs"), max(col("tokens")).as("tokens"),
        max(col("planned_tokens")).as("planned_tokens"),
        sum(when(admitted, 1L).otherwise(0L)).as("kept_docs"),
        sum(when(admitted, col("n_tok")).otherwise(0L)).as("kept_tokens"))
      .select(col("source"), col("n_docs"), col("tokens"), col("planned_tokens"),
        col("kept_docs"), col("kept_tokens"),
        when(col("planned_tokens") > 0,
          ratio4(col("kept_tokens"), col("planned_tokens")))
          .otherwise(lit(null).cast("double")).as("fill4"))
      .orderBy(col("source"))
  }

  /** The q145 admission DECISION frame — one row per document with its
    * hash rank, running token sum, budget columns, and the `admitted`
    * verdict. Split out of [[realizeMixture]] so the s31 streaming
    * admission's single-batch parity law can compare SETS against the
    * batch rule (same core, one definition). */
  private[graft] def admissions(tokIn: DataFrame): DataFrame = {
    // pinned: the thin token frame feeds both the budget aggregate and
    // the ranked admission, which meet again in the join (q104 shape —
    // eager checkpoint, not lazy cache)
    val tok = tokIn.localCheckpoint(true)
    val budgets = mixBudgets(tok.select(col("source"), col("n_tok")))
      .select(col("source"), col("n_docs"), col("tokens"), col("planned_tokens"))
    mixRanked(tok).join(broadcast(budgets), Seq("source"))
      .withColumn("admitted", col("cum") <= col("planned_tokens"))
  }

  /** A (source, doc_id, n_tok) frame plus q145's admission order: `hk`,
    * the h60("mix:" ‖ doc_id) hash rank, and `cum`, the source's running
    * token sum in (hk, doc_id) order — the same order however the rows
    * are partitioned. Shared with the s31 streaming admission. */
  private[graft] def mixRanked(tok: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("source"))
      .orderBy(col("hk"), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    tok.withColumn("hk", h60(concat(lit("mix:"), col("doc_id").cast("string"))))
      .withColumn("cum", sum(col("n_tok")).over(w))
  }

  /** q100: leakage-safe (cluster-aware) train/val/test split — q51's
    * hash split with the property q51 alone cannot give: NEAR-DUPLICATES
    * never straddle a split boundary. A per-doc hash split puts the two
    * halves of a near-dup pair in train and test with probability
    * 2·0.8·0.1 + … ≈ 20% per pair — test-set contamination measured as
    * memorization — so the split key is the document's q57 dedup-cluster
    * id (its connected component over the MinHash-LSH pair graph;
    * unclustered docs key by their own doc_id): every member of a
    * cluster hashes identically, so clusters move atomically. The
    * assignment stays a pure h60 function ("csplit:" salt — independent
    * of q51/q52's coins), so it inherits q51's reproducibility and
    * append-stability. Output per split: docs, char volume, CLUSTER
    * count, doc range, plus the corpus-wide leakage audit column
    * (clusters spanning >1 split — zero by construction, surfaced so a
    * future edit that breaks the invariant fails the oracle, not just a
    * code read). LlmOpsSpec law: Σ n_clusters across splits equals the
    * distinct component count — the equality that holds iff no cluster
    * spans two splits.
    *
    * Scale posture: the component table is near-dup-cluster-sized (far
    * below corpus), its join onto documents is a doc_id equi-join, the
    * assignment is map-side arithmetic, and both audits are grouped
    * aggregates over cluster- or split-cardinality frames; the one-row
    * leakage count broadcasts (allowlisted BNLJ). */
  def q100(spark: SparkSession, sfDir: String): DataFrame = {
    val comp = Dedup.connectedComponents(Dedup.reportedPairs(spark, sfDir))
      .select(col("node").as("doc_id"), col("label").as("component"))
    leakageSafeSplit(Tables.documents(spark, sfDir), comp)
  }

  /** q100 core on arbitrary (doc_id, n_chars) documents and (doc_id,
    * component) cluster frames — exposed so the LlmOpsSpec law can plant
    * clusters directly. */
  private[graft] def leakageSafeSplit(documents: DataFrame, comp: DataFrame): DataFrame = {
    val keyed = documents
      .select(col("doc_id"), col("n_chars"))
      .join(comp, Seq("doc_id"), "left")
      .withColumn("skey", coalesce(col("component"), col("doc_id")))
    val bucket = h60(concat(lit("csplit:"), col("skey").cast("string"))) % 100
    val assigned = keyed.withColumn("split",
      when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test"))
    val leak = assigned.filter(col("component").isNotNull)
      .groupBy(col("component")).agg(countDistinct(col("split")).as("nsp"))
      .filter(col("nsp") > 1)
      .agg(count(lit(1)).as("leaky_clusters"))
    assigned.groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"),
        countDistinct(col("component")).as("n_clusters"),
        min(col("doc_id")).as("min_doc"),
        max(col("doc_id")).as("max_doc"))
      .crossJoin(broadcast(leak))
      .orderBy(col("split"))
  }

  /** q131 target domain: the sources whose distribution the selection
    * aims at — the "curated" slice standing in for DSIR's high-quality
    * target corpus. */
  val DsirTargetSources: Seq[String] = Seq("src0", "src1", "src2", "src3")

  /** q131: data-selection importance weights (the DSIR recipe — Xie et
    * al. 2023, "Data Selection for Language Models via Importance
    * Resampling"): score every document by how much more likely its
    * tokens are under the TARGET domain's unigram bag-of-words model than
    * under the raw-pool model, weight(d) = Σ_w c_d(w)·[ln p̂_t(w) −
    * ln p̂_r(w)] with add-one smoothing over the shared corpus vocabulary.
    * Positive weight ⇒ the doc "looks like" the target domain — the
    * upsample set. The paper hashes n-grams into 10⁴ buckets to bound the
    * feature space; this corpus's vocabulary is already far below that
    * bound, so tokens ARE the buckets (the hashing becomes the identity —
    * the documented scale path is `xxhash64(token) % B`, collision-merging
    * being part of the method, not an approximation of it).
    *
    * Float discipline (q73's exactly): each ln runs on a BIGINT-ratio
    * double identical in both engines, the two lns are ROUND-6'd before
    * subtracting, and the per-doc sum folds SEQUENTIALLY in position
    * order from a 0.0 seed — bit-identical accumulation, then ROUND-4.
    *
    * Scale posture: the positional token stream is pinned once and feeds
    * (a) the vocab-sized count table (map-side combined) and (b) the
    * scoring join, which BROADCASTS the λ table (vocab-bounded, with the
    * single-row totals frame folded in) onto the stream — no
    * corpus-sized shuffle beyond the per-doc fold's own groupBy, which
    * sorts each doc's OWN array. */
  def q131(spark: SparkSession, sfDir: String): DataFrame =
    dsirWeightsOf(Tables.documents(spark, sfDir), DsirTargetSources)

  /** q131 core on any (doc_id, source, text) frame (planted-data seam). */
  def dsirWeightsOf(docs: DataFrame, targets: Seq[String]): DataFrame = {
    val toks = docs
      .select(col("doc_id"), col("source"),
        posexplode(split(col("text"), " ")).as(Seq("pos", "token")))
      .withColumn("is_t", col("source").isin(targets: _*))
    // corpus-scaling frame: explicit partition bound (Dsl.pin scaladoc)
    val pinned = pin(toks, 32)
    val counts = pinned.groupBy(col("token"))
      .agg(sum(when(col("is_t"), 1L).otherwise(0L)).as("ct"),
        sum(when(col("is_t"), 0L).otherwise(1L)).as("cr"))
    val totals = counts.agg(sum(col("ct")).as("nt"), sum(col("cr")).as("nr"),
      count(lit(1)).as("v"))
    val lam = counts.crossJoin(broadcast(totals))
      .select(col("token"),
        (round(log((col("ct") + 1L).cast("double") / (col("nt") + col("v")).cast("double")), 6) -
         round(log((col("cr") + 1L).cast("double") / (col("nr") + col("v")).cast("double")), 6)).as("lam"))
    pinned.join(broadcast(lam), Seq("token"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        aggregate(
          transform(array_sort(collect_list(struct(col("pos"), col("lam")))),
            s => s.getField("lam")),
          lit(0.0), (acc, v) => acc + v).as("sum_lam"))
      .select(col("doc_id"), col("n_tokens"),
        round(col("sum_lam"), 4).as("weight"),
        (round(col("sum_lam"), 4) > 0.0).as("selected"))
      .orderBy(col("doc_id"))
  }
}
