package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ops.Dsl.{cosine, ratio4, round4}
import graft.tables.Tables

/** Retrieval evaluation (SURVEY.md §2.2 q95) — the audit every RAG/search
  * stack runs over its retrieval layer: recall@k and MRR of the engine's
  * own retrieval lists against exact ground truth.
  */
object RetrievalEval {

  /** Size of the fixed evaluation query sample (vectors with
    * vec_id < EvalQueries). The sample is what keeps the GROUND-TRUTH
    * side scale-safe: exact brute-force k-NN for all N vectors is O(N²),
    * but for a constant Q-query panel it is Q·N — one broadcast of the
    * panel against the corpus, the standard recall-audit shape. */
  val EvalQueries = 64L

  /** LCM(1 .. 15): rescales 1/rank to an exact integer for every rank the
    * eval can produce (IVF ranks ≤ Vectors.KnnK = 5, BM25 ranks ≤
    * Text.Bm25TopK = 15), so the macro MRR numerator is an exact integer
    * SUM — no float fold order to pin — and the final value is one
    * ratio4 of integers. */
  val MrrScale = 360360L

  /** q95: retrieval evaluation — per-query recall@k / reciprocal rank of
    * (a) the IVF ANN lists (q90's machinery at the production NProbe)
    * against exact brute-force cosine top-k ground truth over the
    * [[EvalQueries]]-vector panel, plus the macro average, and (b) the
    * BM25 top-[[Text.Bm25TopK]] list (q92) against conjunctive lexical
    * ground truth (documents containing ALL query terms). One row per
    * panel query (`method = 'ivf'`), one macro row (`'ivf_macro'`,
    * integer-sum aggregation: recall = Σhits/Σrel, MRR =
    * Σ(MrrScale/rank)/(MrrScale·Q) — all-integer, so deterministic with
    * no fold discipline), and one row for the single fixed BM25 query
    * (`'bm25'`; its own macro would equal itself). first_rank = 0 encodes
    * "no relevant result retrieved".
    *
    * Scale posture: the IVF side reads the ANN output the pipeline
    * already computes (restricted to the panel) and brute-forces ONLY the
    * panel (Q·N map-side cosine under a Q-row broadcast, one per-src
    * window). The BM25 side is the q92 plan plus one aggregate over its
    * 15-row result and one over the query-term posting lists. Every
    * metric is an integer ratio through [[ratio4]] — HALF_UP-law pinned,
    * no float accumulation anywhere. */
  def q95(spark: SparkSession, sfDir: String): DataFrame = {
    // r9 pinning sweep: audited and left as lazy cache() on purpose —
    // `per` fans out into a UNION plus an aggregate (ivfMacro), never
    // into two join branches, so the q104 cold-session semi-join
    // under-match shape cannot arise here.
    val per = ivfEval(spark, sfDir, Vectors.NProbe).cache()
    val mac = ivfMacro(per)
    per.union(mac).union(bm25Eval(spark, sfDir))
      .orderBy(col("method"), col("query_id"))
  }

  /** Per-panel-query IVF eval rows, parameterized on the probe width so
    * LlmOpsSpec can pin recall MONOTONICITY in nprobe: the candidate set
    * grows with nprobe, retrieved∩truth = candidates∩truth (a true
    * neighbor in the candidate set can be outranked only by other true
    * neighbors), so macro recall is non-decreasing and hits 1.0 exactly
    * at nprobe = ncells. */
  private[graft] def ivfEval(spark: SparkSession, sfDir: String, nprobe: Int): DataFrame = {
    val emb = Tables.embeddings(spark, sfDir)
    val panel = emb.filter(col("vec_id") < EvalQueries)
      .select(col("vec_id").as("src"), col("embedding").as("qv"))
    val wt = Window.partitionBy(col("src")).orderBy(col("sim").desc, col("dst"))
    val truth = emb.join(broadcast(panel))
      .filter(col("vec_id") =!= col("src"))
      .select(col("src"), col("vec_id").as("dst"),
        round4(cosine(col("embedding"), col("qv"))).as("sim"))
      .withColumn("rk", row_number().over(wt))
      .filter(col("rk") <= Vectors.KnnK)
      .select(col("src"), col("dst"))
    // Lineage truncation at the two Q-row Aggregate-rooted midpoints
    // (r11 verdict item 2): a stage's task binary serializes the whole
    // upstream RDD DAG through its shuffle dependencies, and without a
    // cut here the eval's final stages carry ivfKnn + the brute-force
    // truth + both joins — measured >1.1 MiB per submission at sf0.1.
    // Both frames are ≤ EvalQueries rows and
    // Aggregate-rooted, so the eager checkpoint is safe (the UnionBase
    // rule) and costs one tiny job each.
    //
    // Known cost (r12 advisor): the EAGER checkpoints run the ivfKnn +
    // brute-force-truth jobs at DataFrame-BUILD time, so a plan-only
    // consumer (PlanSpec's whole-inventory sweep) pays full
    // execution just to look at the plan. Accepted under the existing pin
    // discipline — q95 is the one query whose task-binary growth forced
    // mid-plan cuts — and bounded: both checkpointed frames are
    // ≤ EvalQueries rows, so the build-time jobs are the query's own
    // dominant work, not an extra pass.
    val nrel = truth.groupBy(col("src")).agg(count(lit(1)).as("n_rel"))
      .localCheckpoint(true)
    val ret = Vectors.ivfKnn(spark, sfDir, nprobe)
      .filter(col("src") < EvalQueries)
      .select(col("src"), col("rk"), col("dst"))
    val hits = ret.join(truth.withColumn("rel", lit(1)), Seq("src", "dst"), "left")
      .groupBy(col("src"))
      .agg(sum(coalesce(col("rel"), lit(0))).as("n_hit"),
        min(when(col("rel") === 1, col("rk"))).as("fr"))
      .localCheckpoint(true)
    hits
      .join(nrel, Seq("src"))
      .select(lit("ivf").as("method"), col("src").cast("long").as("query_id"),
        col("n_rel").cast("long").as("n_rel"), col("n_hit").cast("long").as("n_hit"),
        coalesce(col("fr"), lit(0)).cast("long").as("first_rank"),
        ratio4(col("n_hit"), col("n_rel")).as("recall4"),
        when(col("fr").isNull, lit(0.0))
          .otherwise(ratio4(lit(1), col("fr"))).as("rr4"))
  }

  /** Macro average over the per-query rows — integer sums only: the MRR
    * numerator rescales each 1/first_rank to the exact integer
    * MrrScale/first_rank (exact because first_rank ≤ 15 divides
    * MrrScale). */
  private def ivfMacro(per: DataFrame): DataFrame =
    per.agg(
      sum(col("n_rel")).as("srel"), sum(col("n_hit")).as("shit"),
      sum(when(col("first_rank") > 0, (lit(MrrScale) / col("first_rank")).cast("long"))
        .otherwise(lit(0L))).as("smrr"),
      count(lit(1)).as("nq"))
      .select(lit("ivf_macro").as("method"), lit(-1L).as("query_id"),
        col("srel").as("n_rel"), col("shit").as("n_hit"), lit(0L).as("first_rank"),
        ratio4(col("shit"), col("srel")).as("recall4"),
        ratio4(col("smrr"), col("nq") * lit(MrrScale)).as("rr4"))

  /** The lexical half: q92's top-15 against conjunctive relevance (docs
    * containing every query term — [[Text.Bm25Query]] is a 3-term AND).
    * The rank window is global but runs on the already-limited 15-row
    * result, not a corpus-scale frame. */
  private def bm25Eval(spark: SparkSession, sfDir: String): DataFrame = {
    val ranked = Text.q92(spark, sfDir)
      .select(col("doc_id"), col("bm25"))
      .withColumn("rk", row_number().over(
        Window.orderBy(col("bm25").desc, col("doc_id"))))
    val rel = Tables.documents(spark, sfDir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
      .filter(col("token").isin(Text.Bm25Query: _*))
      .groupBy(col("doc_id")).agg(countDistinct(col("token")).as("nt"))
      .filter(col("nt") === Text.Bm25Query.size)
      .select(col("doc_id"))
    val nrel = rel.agg(count(lit(1)).as("n_rel"))
    ranked.join(rel.withColumn("rel", lit(1)), Seq("doc_id"), "left")
      .agg(sum(coalesce(col("rel"), lit(0))).as("n_hit"),
        min(when(col("rel") === 1, col("rk"))).as("fr"))
      .crossJoin(broadcast(nrel))
      .select(lit("bm25").as("method"), lit(-1L).as("query_id"),
        col("n_rel").cast("long").as("n_rel"),
        // empty-corpus guard (r9 sweep): SUM over the zero-row ranked
        // frame is NULL in Spark where the oracle's join yields 0
        coalesce(col("n_hit"), lit(0L)).cast("long").as("n_hit"),
        coalesce(col("fr"), lit(0)).cast("long").as("first_rank"),
        when(col("n_rel") === 0, lit(0.0))
          .otherwise(ratio4(col("n_hit"), col("n_rel"))).as("recall4"),
        when(col("fr").isNull, lit(0.0))
          .otherwise(ratio4(lit(1), col("fr"))).as("rr4"))
  }

  /** q148 RRF constants. [[RrfK]] = 60 is the standard reciprocal-rank-
    * fusion damping (Cormack, Clarke & Büttcher, SIGIR'09). [[RrfScale]]
    * turns each 1/(K+rank) into the INTEGER `RrfScale div (K+rank)` —
    * floor division, identical in both engines, strictly monotone in rank
    * over the reachable range (adjacent denominators 61..75 differ by
    * ≥ 1.7e8 at 1e12), so the fused score needs no float fold discipline
    * at all: two exact int64 terms, summed. */
  val RrfK = 60
  val RrfScale = 1000000000000L
  val HybridTopK = 15
  val HybridOutK = 10

  /** q148: hybrid retrieval — reciprocal-rank fusion of the engine's two
    * ranking modalities over the SAME document key space: the lexical
    * BM25 top-[[HybridTopK]] (q92's list, [[Text.Bm25Query]]) and the
    * semantic cosine top-[[HybridTopK]] against the vec_id-0 query
    * embedding (q31's ranking, widened from 10 to 15). Fused score =
    * Σ_lists RrfScale div (RrfK + rank), rank 0 (absent from a list)
    * contributing nothing — the standard hybrid-search shape every
    * RAG stack runs (lexical ⊕ vector, fused without score calibration
    * because RRF only consumes RANKS). Output: top [[HybridOutK]] by
    * (rrf DESC, doc_id), with both per-list ranks (0 = not retrieved).
    *
    * Scale posture: both lists are TopK-bounded before fusion (the BM25
    * side is q92's plan; the semantic side is one broadcast-query
    * map-side cosine + TakeOrdered), so the fusion itself — two
    * row_number windows, one full-outer join, one TakeOrdered — runs on
    * ≤ 2·[[HybridTopK]] rows regardless of corpus size. The global rank
    * windows sit on GlobalLimit-reduced frames (PlanSpec
    * bounded-global-window allowlist). */
  def q148(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = Tables.embeddings(spark, sfDir)
    val query = emb.filter(col("vec_id") === 0)
      .select(col("embedding").as("qvec"))
    val semList = emb.join(broadcast(query))
      .filter(col("vec_id") =!= 0)
      .select(col("vec_id").as("doc_id"),
        round4(cosine(col("embedding"), col("qvec"))).as("sim"))
      .orderBy(col("sim").desc, col("doc_id"))
      .limit(HybridTopK)
    rrfFuse(Text.q92(spark, sfDir).select(col("doc_id"), col("bm25")), semList)
  }

  /** The q148 fusion kernel on prepared (doc_id, bm25) / (doc_id, sim)
    * candidate lists (each already TopK-bounded) — shared with the s32
    * streaming hybrid search so "the fusion" has exactly one
    * definition. */
  private[graft] def rrfFuse(lexList: DataFrame, semList: DataFrame): DataFrame = {
    val lex = lexList.select(col("doc_id"), row_number().over(
      Window.orderBy(col("bm25").desc, col("doc_id"))).as("lex_rank"))
    val sem = semList.select(col("doc_id"), row_number().over(
      Window.orderBy(col("sim").desc, col("doc_id"))).as("sem_rank"))
    // exact floor division RrfScale div (RrfK + rank) without an integer
    // div operator: reduce the numerator mod the denominator FIRST so the
    // one double division is exactly divisible (the ratio4dec discipline)
    // — both operands < 2^53, so the quotient is the exact integer
    def term(rank: Column): Column = {
      val d = (lit(RrfK) + rank).cast("long")
      when(rank > 0,
        ((lit(RrfScale) - pmod(lit(RrfScale), d)) / d).cast("long"))
        .otherwise(lit(0L))
    }
    lex.join(sem, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        coalesce(col("lex_rank"), lit(0)).as("lex_rank"),
        coalesce(col("sem_rank"), lit(0)).as("sem_rank"))
      .withColumn("rrf", term(col("lex_rank")) + term(col("sem_rank")))
      .orderBy(col("rrf").desc, col("doc_id"))
      .limit(HybridOutK)
  }
}
