package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.Dsl._
import graft.tables.Tables

/** Vector-similarity operators over `embeddings` (SURVEY.md §2.2 q31 +
  * north-star similarity q37). Cosine is computed in DOUBLE by codegen'd
  * higher-order functions (Dsl.cosine) — no UDF, no MLlib dependency.
  *
  * Scale posture: q31 broadcasts the single query vector (generalizes to a
  * broadcast codebook / centroid set — never a shuffled cartesian); q37
  * blocks the pairwise join on `label` so the quadratic term is bounded per
  * block (the same blocking an IVF cell assignment provides, see
  * graft.ops.Ann for the LSH/IVF candidate generators).
  */
object Vectors {

  /** q31: brute-force cosine top-k against one query vector (vec_id = 0),
    * the exact baseline every ANN variant is judged against. */
  def q31(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = Tables.embeddings(spark, sfDir)
    val query = emb.filter(col("vec_id") === 0).select(col("embedding").as("qvec"))
    emb.join(broadcast(query))
      .filter(col("vec_id") =!= 0)
      .select(col("vec_id"), round4(cosine(col("embedding"), col("qvec"))).as("sim"))
      .orderBy(col("sim").desc, col("vec_id"))
      .limit(10)
  }

  /** q38: approximate-nearest-neighbor via multi-table random-hyperplane
    * LSH (graft.ops.Ann, 8 tables × 4 sign bits): a vector is a candidate
    * iff it shares any table's bucket with the query vector; candidates are
    * ranked by exact cosine. The scale path of q31 — per query the cost is
    * L bucket lookups (broadcast of one query row + hash filter), not a
    * scan, and recall vs the exact q31 top-k is asserted in LlmOpsSpec. */
  def q38(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = Tables.embeddings(spark, sfDir)
      .withColumn("buckets", graft.ops.Ann.buckets(col("embedding")))
    val query = emb.filter(col("vec_id") === 0)
      .select(col("embedding").as("qvec"), col("buckets").as("qbuckets"))
    emb.join(broadcast(query))
      .filter(col("vec_id") =!= 0 &&
        exists(zip_with(col("buckets"), col("qbuckets"), (a, b) => a === b), x => x))
      .select(col("vec_id"), round4(cosine(col("embedding"), col("qvec"))).as("sim"))
      .orderBy(col("sim").desc, col("vec_id"))
      .limit(10)
  }

  /** Fixed-point scale for centroid component sums: floor(x·10⁶) per
    * component, summed as BIGINT — exact, associative, order-independent,
    * and bit-identical across engines (both read the same float32, widen to
    * double exactly, and floor the same product), where a plain double SUM
    * would depend on partial-agg combine order. Mirrored literally in the
    * oracle SQL. */
  val CentroidScale = 1000000L

  /** Lloyd's rounds after the label initialization. Two rounds move the
    * label-seeded centroids onto the data's actual geometry (the
    * assignments stop being label stand-ins after round 1); the round
    * count is mirrored into the oracle's unrolled CTE chain. */
  val LloydRounds = 2

  /** q56 probe width: the query scans its NProbe nearest cells. */
  val NProbe = 3

  /** q90 probe-join salt fan-out: spreads the ncells-cardinality cell key
    * over ncells×ProbeSalt shuffle keys (see the salting note in
    * [[ivfKnn]]). */
  val ProbeSalt = 8L

  /** Per-(cell, component) scaled sums — the Lloyd's-step reduce shared
    * by q55/q56. One narrow shuffle of (cell, i, long); partial sums
    * combine map-side, so at 100 TB this is a single mergeable aggregation
    * regardless of corpus size. Input rows: (cell, embedding). */
  private[graft] def centroidComponents(assigned: DataFrame): DataFrame =
    assigned
      .select(col("cell"), posexplode(col("embedding")).as(Seq("pos", "x")))
      .groupBy(col("cell"), (col("pos") + 1).as("i"))
      .agg(sum(floor(col("x").cast("double") * CentroidScale).cast("long")).as("sq"),
        count(lit(1)).as("n"))

  /** cell → ordered centroid vector: the broadcastable codebook (one row
    * per cell). Component doubles are (exact BIGINT)/scale/n — the same
    * two IEEE divisions in the same order as the oracle, so the codebook
    * is bit-identical across engines and downstream fold-parity cosines
    * stay exact. */
  private[graft] def codebook(comps: DataFrame): DataFrame =
    comps
      .select(col("cell"), col("i"),
        ((col("sq").cast("double") / CentroidScale) / col("n")).as("c"))
      .groupBy(col("cell"))
      .agg(transform(array_sort(collect_list(struct(col("i"), col("c")))),
        s => s.getField("c")).as("cvec"))

  /** Per-(vector, cell) similarity frame against a broadcast codebook —
    * THIN: (vec_id, cell, csim) only, never the embedding. The
    * N·ncells similarity stream used to carry the 64-double embedding
    * into the argmax window's map-side sort, shuffle, and (on the kNN
    * paths) a localCheckpoint — ~25× the bytes of the scalars actually
    * being ranked, on rows about to be filtered to one (or NProbe) per
    * vector (guide §2.3 "project before the exchange"). Consumers that
    * need the embedding join it back on vec_id AFTER the rank filter
    * ([[assign]]), moving each surviving embedding exactly once.
    * Fold parity with DuckDB's list_reduce is load-bearing (comparisons
    * happen BEFORE any rounding); the native codegen'd CosineSimilarity
    * honors it — one sequential left-to-right pass, bit-identical to the
    * HOF spec including the mixed float-embedding × double-centroid case
    * (ExpressionSpec) — while running fused in whole-stage codegen
    * instead of interpreting 64 lambda calls per (vector, cell).
    * Map-side (broadcast join, no shuffle). */
  private[graft] def cellSims(emb: DataFrame, cells: DataFrame): DataFrame =
    emb.join(broadcast(cells))
      .select(col("vec_id"), col("cell"),
        cosine(col("embedding"), col("cvec")).as("csim"))

  /** THE nearest-cell tie-break (csim desc, cell asc), defined once —
    * training assignment, probe assignment, and the oracle's row_number
    * ORDER BY all mirror this single definition. One row_number shuffle
    * on vec_id — thin rows only (see [[cellSims]]); Spark 4's
    * WindowGroupLimit pushdown reduces the map side to one candidate per
    * (vector, partition) before the exchange. Returns (vec_id, cell). */
  private[graft] def argmaxCell(sims: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("vec_id")).orderBy(col("csim").desc, col("cell"))
    sims
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("cell"))
  }

  /** Nearest-centroid assignment = [[cellSims]] + [[argmaxCell]] + the
    * embedding joined back on vec_id (one row per vector on both sides).
    * Local mode broadcasts/AQE-coalesces the narrow (vec_id, cell) side;
    * at corpus scale this is one shuffle of each surviving embedding —
    * strictly less than the ncells copies the fat window shuffled. */
  private[graft] def assign(emb: DataFrame, cells: DataFrame): DataFrame =
    emb.select(col("vec_id"), col("embedding"))
      .join(argmaxCell(cellSims(emb, cells)), Seq("vec_id"))
      .select(col("vec_id"), col("embedding"), col("cell"))

  /** IVF coarse-quantizer training: centroids seeded from the label
    * partition, then LloydRounds × (assign to nearest centroid →
    * recompute scaled-sum centroids). Each round is one broadcast join +
    * one mergeable aggregation — the q57 iteration pattern, with
    * `localCheckpoint(true)` truncating the tiny (cells × dim) component
    * frame between rounds so round k's plan does not replay rounds
    * 1..k-1. Empty cells drop out identically on both engines.
    * (r17 A/B: a fully LAZY chain — legal here because each round is
    * referenced exactly once, so the unrolled plan is linear in
    * LloydRounds — measured NEUTRAL-to-worse at sf0.1 (q55 1.02→1.26 s,
    * q95 2.51→3.03 s warm2): the nested broadcast builds serialize
    * anyway and the deeper tree re-analyzes per consumer. Kept
    * checkpointed.) */
  private[graft] def trainedComponents(emb: DataFrame): DataFrame = {
    var comps = centroidComponents(emb.select(col("label").as("cell"), col("embedding")))
    for (_ <- 1 to LloydRounds)
      comps = centroidComponents(
        assign(emb, codebook(comps)).select(col("cell"), col("embedding")))
        .localCheckpoint(true)
    comps
  }

  /** q55: IVF coarse-quantizer training — the trained codebook after
    * LloydRounds Lloyd's iterations (the cells q56 probes), one row per
    * (cell, component) with the member count and ROUND-4 centroid value.
    * The oracle unrolls the identical iteration as a CTE chain from the
    * same constants, so the trained fixpoint — not just one reduce shape —
    * is what the hash compare pins.
    *
    * The output quantization is EXACT INTEGER arithmetic, not round() of a
    * double: round4(sq/(scale·n)) half-up-away-from-zero is
    * sign(sq) · (|sq|·10⁴ + scale·n/2) div (scale·n) — every operand a
    * BIGINT, scale·n always even so the half term is exact — then ONE
    * IEEE division by 10⁴ at the end. Spark's round() (exact-BigDecimal
    * HALF_UP) and DuckDB's ROUND (floating) disagree on doubles near a
    * .00005 boundary, which the trained centroids hit; integers cannot. */
  def q55(spark: SparkSession, sfDir: String): DataFrame = {
    val den = s"(n * ${CentroidScale}L)"
    trainedComponents(Tables.embeddings(spark, sfDir))
      .withColumn("c4",
        expr(s"CASE WHEN sq >= 0 THEN (sq * 10000 + $den div 2) div $den " +
          s"ELSE -(((-sq) * 10000 + $den div 2) div $den) END"))
      .select(col("cell"), col("i").cast("int").as("i"), col("n").as("n_vecs"),
        (col("c4").cast("double") / 10000.0).as("c"))
      .orderBy(col("cell"), col("i"))
  }

  /** q56: IVF probe — the second ANN family next to q38's LSH. Every
    * vector is assigned to its nearest trained centroid; the query
    * (vec_id 0) probes its NProbe nearest cells and ranks their members
    * by exact cosine. Per query the scan is Σ|probed cells|, not
    * |corpus|; the codebook broadcasts, assignment is map-side, and the
    * final ranking is a TakeOrdered over the probed members. The query's
    * cell ranking re-derives from a vec_id=0-filtered scan (pushed to the
    * parquet source) rather than caching the full |corpus|×|cells|
    * similarity frame. */
  def q56(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = Tables.embeddings(spark, sfDir)
    val cells = codebook(trainedComponents(emb))
    val sims = cellSims(emb, cells)
    // join-back of the embedding onto the one surviving (vec_id, cell)
    // row per vector — the argmax ranks THIN rows (see cellSims)
    val assigned = argmaxCell(sims)
      .join(emb.select(col("vec_id"), col("embedding")), Seq("vec_id"))
    val qcells = sims.filter(col("vec_id") === 0)
      .orderBy(col("csim").desc, col("cell")).limit(NProbe)
      .select(col("cell"))
    val qv = emb.filter(col("vec_id") === 0).select(col("embedding").as("qvec"))
    assigned.join(broadcast(qcells), Seq("cell"))
      .filter(col("vec_id") =!= 0)
      .join(broadcast(qv))
      .select(col("vec_id"), col("cell"), round4(cosine(col("embedding"), col("qvec"))).as("sim"))
      .orderBy(col("sim").desc, col("vec_id"))
      .limit(10)
  }

  /** q59: symmetric int8 embedding quantization + reconstruction-error
    * audit — the storage-shrink step a 100 TB vector corpus runs before
    * ANN indexing (4× smaller than float32, SIMD-friendly dot products):
    * per vector, scale = 127/max|x|, q_i = ⌊x_i·scale + 0.5⌋ (explicit
    * half-up via floor — engine-identical, unlike round()'s per-engine tie
    * rules), dequantized error stats. Output: vec_id, the scale-defining
    * amax, the first 8 quantized components (joined as a string so the
    * compare can hash it), and ROUND-4 mean/max absolute reconstruction
    * error; ordered by vec_id.
    *
    * Purely row-local map work — zero shuffles, perfectly parallel at any
    * scale. Each stage lives in its OWN projection (HOF lambdas are
    * interpreted with no subexpression elimination — the q36 lesson); the
    * error mean folds sequentially from 0.0 (list_reduce parity), the max
    * is order-free selection, and every compared float passes ROUND(…,4). */
  def q59(spark: SparkSession, sfDir: String): DataFrame = {
    val errMean = aggregate(col("errs"), lit(0.0), (a, v) => a + v) /
      size(col("errs")).cast("double")
    Tables.embeddings(spark, sfDir)
      .select(col("vec_id"),
        transform(col("embedding"), v => v.cast("double")).as("xd"))
      .select(col("vec_id"), col("xd"),
        aggregate(col("xd"), lit(0.0), (a, v) => greatest(a, abs(v))).as("amax"))
      .select(col("vec_id"), col("xd"), col("amax"),
        when(col("amax") === 0.0, 0.0).otherwise(lit(127.0) / col("amax")).as("scale"))
      .select(col("vec_id"), col("xd"), col("amax"), col("scale"),
        transform(col("xd"), v => floor(v * col("scale") + 0.5).cast("int")).as("qa"))
      .select(col("vec_id"), col("amax"), col("scale"), col("qa"),
        zip_with(col("xd"), col("qa"), (v, q) =>
          abs(v - when(col("scale") === 0.0, 0.0)
            .otherwise(q.cast("double") / col("scale")))).as("errs"))
      .select(col("vec_id"),
        round4(col("amax")).as("amax"),
        array_join(transform(slice(col("qa"), 1, 8), v => v.cast("string")), ",").as("q_head8"),
        round4(errMean).as("mean_abs_err"),
        round4(array_max(col("errs"))).as("max_abs_err"))
      .orderBy(col("vec_id"))
  }

  /** q65: integer-exact ANN over scalar-quantized embeddings — the query
    * path that q59's storage shrink buys (the FAISS-SQ pattern): every
    * vector is L2-normalized then quantized to int8 with the fixed scale
    * 127 (|x/‖x‖| ≤ 1, so no per-vector scale is needed and dot products
    * stay comparable across vectors); candidates are ranked by the RAW
    * INTEGER dot product against the quantized query — exact LONG
    * arithmetic, so the ranking is deterministic with no float-order
    * discipline at all (ties by vec_id) — and dot/127² is surfaced as the
    * dequantized cosine estimate. Ranking runs through the native
    * codegen'd DotProductInt expression (proven == its HOF spec in
    * ExpressionSpec); LlmOpsSpec asserts recall against the exact q31
    * top-10. The one float stage (normalize-then-quantize) folds
    * sequentially and floors — engine-identical. */
  def q65(spark: SparkSession, sfDir: String): DataFrame = {
    val qv = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), transform(col("embedding"), v => v.cast("double")).as("xd"))
      .select(col("vec_id"), col("xd"),
        sqrt(aggregate(col("xd"), lit(0.0), (a, v) => a + v * v)).as("nrm"))
      .select(col("vec_id"),
        transform(col("xd"), v =>
          when(col("nrm") === 0.0, lit(0))
            .otherwise(floor(v / col("nrm") * 127.0 + 0.5).cast("int"))).as("q8"))
    val query = qv.filter(col("vec_id") === 0).select(col("q8").as("qq"))
    qv.join(broadcast(query))
      .filter(col("vec_id") =!= 0)
      .select(col("vec_id"), dotInt(col("q8"), col("qq")).as("dot_q"))
      .select(col("vec_id"), col("dot_q"),
        round(col("dot_q").cast("double") / lit(16129.0), 4).as("approx_sim"))
      .orderBy(col("dot_q").desc, col("vec_id"))
      .limit(10)
  }

  /** q37: embedding-cosine near-duplicate pairs — candidates from the
    * random-hyperplane LSH tables (graft.ops.Ann), ranked by exact cosine;
    * top 20 most-similar candidate pairs (the testdata plants no true
    * near-dups — max same-label cosine ≈ 0.45 — so the operator surfaces
    * the closest pairs rather than thresholding to an empty set).
    *
    * A pair is a candidate iff the two vectors share a label AND any of
    * the L=8 hash tables' buckets — the q34/q38 sub-quadratic shape
    * applied to the PAIRWISE problem: explode each vector to its 8
    * (table, bucket) keys, equi-join on (label, table, bucket), distinct
    * the surviving id pairs, then fetch both embeddings and rank by exact
    * cosine. Work scales with bucket-collision volume (≈ n²·E[p^k] per
    * table on uncorrelated data, ~1.5% of all-pairs at k=4), never with a
    * label block's full quadratic: label cardinality is fixed (10) while
    * the corpus grows, so the previous label-blocked all-pairs join did
    * 10,000× the work at 100× the data. PlanSpec pins the candidate join
    * as a multi-key equi-join; the bucket filter is mirrored
    * constant-for-constant in the oracle SQL (sign tests fold
    * sequentially on both engines — bit-identical buckets), so the
    * candidate set cannot drift between the engines. The exploded
    * signature frame is cached: both sides of the self-join read it. */
  def q37(spark: SparkSession, sfDir: String): DataFrame =
    cosineCandidatePairs(spark, sfDir)
      .orderBy(col("sim").desc, col("vec_a"), col("vec_b"))
      .limit(20)

  /** The q37 candidate core, shared with q81: every same-label LSH-bucket
    * candidate pair with its ROUND-4 exact cosine — no ranking, no limit.
    * One row per (label, vec_a, vec_b), vec_a < vec_b. */
  private[graft] def cosineCandidatePairs(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables.embeddings(spark, sfDir)
    val sig = e.select(col("label"), col("vec_id"),
        posexplode(graft.ops.Ann.buckets(col("embedding"))).as(Seq("t", "bucket")))
      // eager pin: this frame self-joins for the bucket pairs (q104
      // shape)
      .localCheckpoint(true)
    val pairs = sig.select(col("label"), col("t"), col("bucket"), col("vec_id").as("vec_a"))
      .join(sig.select(col("label"), col("t"), col("bucket"), col("vec_id").as("vec_b")),
        Seq("label", "t", "bucket"))
      .filter(col("vec_a") < col("vec_b"))
      .select(col("label"), col("vec_a"), col("vec_b"))
      .distinct()
    val ea = e.select(col("vec_id").as("vec_a"), col("embedding").as("emb_a"))
    val eb = e.select(col("vec_id").as("vec_b"), col("embedding").as("emb_b"))
    pairs.join(ea, Seq("vec_a")).join(eb, Seq("vec_b"))
      .select(col("label"), col("vec_a"), col("vec_b"),
        round4(cosine(col("emb_a"), col("emb_b"))).as("sim"))
  }

  /** q81 cluster threshold: pairs at ROUND-4 cosine ≥ this edge into the
    * semantic-duplicate graph (the corpus' same-label cosine tops out
    * ≈ 0.45, so 0.3 clusters the strongly-similar tail — on a real
    * near-dup corpus this sits at 0.9+; the operator shape is
    * threshold-independent). The compare runs on the ROUND-4 sim — an
    * identical double on both engines — so edge membership cannot drift. */
  val SemanticDupSim = 0.3

  /** q81: semantic dedup clusters — the embedding-space analogue of q57:
    * connected components over the sub-quadratic cosine candidate graph
    * (q37's machinery, thresholded instead of top-k), labels = min vec_id
    * per component, plus each cluster's size. A training pipeline drops
    * all but one representative per cluster exactly as q66 does from
    * q57's clusters.
    *
    * Scale posture: edges come from the bucket equi-join (never
    * all-pairs); the CC fixpoint is Dedup.connectedComponents — one
    * shuffle per round, localCheckpoint lineage truncation, automatic
    * large-star/small-star fallback for deep graphs. */
  def q81(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val edges = cosineCandidatePairs(spark, sfDir)
      .filter(col("sim") >= SemanticDupSim)
      .select(col("vec_a"), col("vec_b"))
    Dedup.connectedComponents(edges)
      .select(col("node").as("vec_id"), col("label").as("component"))
      .withColumn("n_vecs", count(lit(1)).over(Window.partitionBy(col("component"))))
      .orderBy(col("vec_id"))
  }

  /** q85 reduced dimensionality (the first JlDims planes of the Ann
    * family). */
  val JlDims = 16

  /** q85: random-projection dimensionality reduction (Johnson-
    * Lindenstrauss): each 64-dim embedding → its ROUND-4 projections onto
    * the first 16 fixed hyperplanes of graft.ops.Ann — the float-valued
    * form of the LSH tables (the bucket bits ARE these projections'
    * signs), emitted long-format (vec_id, p, value). The 4× storage/
    * compute reduction in front of brute-force rerank, clustering, or
    * index build; distances distort by at most the JL factor in
    * expectation.
    *
    * Scale posture: pure map-side expression work — 16 fused
    * DotProductFold kernels per row inside whole-stage codegen, no
    * shuffle at all except the output ordering. Projections fold
    * sequentially in double on BOTH engines (the Ann discipline), so
    * every emitted value is bit-identical before its ROUND-4. */
  def q85(spark: SparkSession, sfDir: String): DataFrame = {
    val comps = (0 until JlDims).map { p =>
      struct(lit(p.toLong).as("p"),
        round(graft.ops.Ann.projection(col("embedding"), p), 4).as("v"))
    }
    Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), explode(array(comps: _*)).as("c"))
      .select(col("vec_id"), col("c").getField("p").as("p"),
        col("c").getField("v").as("value"))
      .orderBy(col("vec_id"), col("p"))
  }

  /** q77 neighbors per vector. */
  val KnnK = 5

  /** q77: batch k-NN join — the ALL-queries form of ANN (q38 answers one
    * query vector; a k-NN GRAPH answers every vector at once: the
    * backbone of semantic dedup, diversity sampling, and graph-based
    * retraining-set construction). Every vector ranks its LSH-candidate
    * neighbors (any shared (table, bucket) — graft.ops.Ann) by exact
    * cosine and keeps its top KnnK; output is the directed neighbor list
    * (src, rk, dst, sim).
    *
    * Scale posture: this is the q37 candidate machinery pointed at top-k
    * per source instead of global top pairs — one equi-join on
    * (t, bucket) whose volume is bucket-collision bounded (never
    * all-pairs), then a row_number window PARTITIONED by src (top-k per
    * vector runs where the vector's candidates live — no global sort, no
    * single-task stage; PlanSpec pins both). The ranking reads the
    * ROUND-4 sim (ties broken by dst), so the k-set is deterministic
    * across engines. */
  def q77(spark: SparkSession, sfDir: String): DataFrame =
    knnPairs(spark, sfDir).orderBy(col("src"), col("rk"))

  /** q77 core without the output-contract ORDER BY, so q104 (which feeds
    * the pairs into connected components — order-free) skips the full
    * sort of the neighbor table (the same split as Dedup.reportedPairs). */
  private[graft] def knnPairs(spark: SparkSession, sfDir: String): DataFrame =
    knnPairsOn(Tables.embeddings(spark, sfDir), graft.ops.Ann.buckets)

  /** q77 core on an arbitrary embeddings frame with a pluggable bucket
    * family — the production path passes [[graft.ops.Ann.buckets]]; the
    * scale rehearsal passes `bucketsWide(_, 4 + log2(density))` so bucket
    * occupancy (and the candidate join volume) stays at the design
    * density as the corpus amplifies (the Ann scaladoc's "denser corpora
    * raise k" knob, measured in BENCH_scale.json).
    *
    * Plan shape (r9 scale-rehearsal fix): the cosine is computed WHERE
    * THE PAIR IS BORN — the bucket self-join co-locates both embedding
    * arrays in the (t, bucket) partition, and the join output is
    * projected to thin (src, dst, sim) rows inside the same codegen
    * stage, so no candidate-volume exchange ever carries a 64-double
    * array. The first cut attached both arrays AFTER a distinct — at the
    * ×32 rehearsal point that shuffled ~80 M pair rows × ~1 KB (≈ 45 GB)
    * through the dst join and measured a 1.8 growth exponent; this form
    * shuffles the fat arrays only at signature cardinality (N·L rows)
    * and the candidate mass as ≤ 28-byte rows. Multi-table duplicate
    * pairs now cost one extra 64-FMA cosine each instead of a distinct
    * over the fat stream — they collapse in the thin (src, dst) max-sim
    * aggregate (sim is identical across a pair's duplicates, so max is
    * the value; map-side partials absorb most duplicates before the
    * exchange). */
  private[graft] def knnPairsOn(e: DataFrame,
      bucketsOf: Column => Column): DataFrame = {
    // NOT pinned (r11): both self-join sides recompute this frame inside
    // ONE action — the computation is a deterministic map (scan + hash
    // repartition + posexplode), so the two evaluations are identical
    // row sets and the join's own exchanges are what Spark materializes.
    // The r9 under-match hazard was a LAZY cache observed mid-fill; plain
    // recompute has no partially-built state to observe. (The r9 eager
    // checkpoint here cost ~1.5 s by splitting the plan into serial jobs
    // — the r10 verdict's q77 regression.)
    //
    // The hash repartition is load-bearing for PARALLELISM, not just
    // balance: the probe side of the (t, bucket) broadcast self-join is
    // otherwise the raw narrow scan pipeline, and a small parquet input
    // is ONE split — every candidate cosine would run in a single task
    // (measured 28 s at sf0.1; the r9 pin masked this by materializing
    // the frame into multiple blocks). The partition count is EXPLICIT
    // (REPARTITION_BY_NUM): AQE coalesces byte-small exchanges down to
    // one partition, but this stream is compute-bound (64-FMA cosine per
    // candidate pair), and AQE's advisory sizing only sees bytes —
    // measured 56 s when the count was left implicit and AQE folded the
    // stage to a single task. At cluster scale the same repartition
    // spreads the bucket-explode stream evenly over executors regardless
    // of input file layout.
    // Stage split, deliberately: the bucket explode runs BEFORE the
    // exchange, so the 32-plane dot_fold Generate compiles as its own
    // (small) codegen unit and the post-exchange probe stage holds only
    // join + cosine + partial agg. Fusing Generate + join + cosine into
    // one whole-stage-codegen unit produced a method past the JIT's huge-
    // method limit — the stage ran as interpreted bytecode at ~1 ms per
    // cosine (measured 17 s vs 1 s for the identical row count here).
    val n = e.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    val sig = e
      .select(col("vec_id"), col("embedding"),
        posexplode(bucketsOf(col("embedding"))).as(Seq("t", "bucket")))
      .repartition(n, col("vec_id"), col("t"))
    val thin = sig
      .select(col("t"), col("bucket"), col("vec_id").as("src"),
        col("embedding").as("emb_a"))
      .join(sig.select(col("t"), col("bucket"), col("vec_id").as("dst"),
          col("embedding").as("emb_b")),
        Seq("t", "bucket"))
      .filter(col("src") =!= col("dst"))
      .select(col("src"), col("dst"),
        round4(cosine(col("emb_a"), col("emb_b"))).as("sim"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("src")).orderBy(col("sim").desc, col("dst"))
    thin.groupBy(col("src"), col("dst")).agg(max(col("sim")).as("sim"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= KnnK)
      .select(col("src"), col("rk"), col("dst"), col("sim"))
  }

  /** q90: batch IVF probe — the ALL-queries form of the IVF family
    * (q56 answers one query vector; this gives every vector its k nearest
    * neighbors through the trained coarse quantizer, the IVF counterpart
    * of q77's LSH k-NN graph). Every vector probes its NProbe nearest
    * trained cells and ranks the cells' members by exact ROUND-4 cosine
    * (ties by dst), keeping its top KnnK; output is the directed neighbor
    * list (src, rk, dst, sim) — the same shape as q77 so the two ANN
    * families are interchangeable downstream.
    *
    * Scale posture: training and assignment are the q55/q56 machinery
    * (broadcast codebook, map-side similarity, one row_number shuffle);
    * the probe is ONE equi-join on cell — per-source candidate volume is
    * Σ|probed cells|, so total join volume is N·NProbe·(N/ncells) rows,
    * the classic IVF regime where ncells grows as √N at corpus scale (the
    * synthetic corpus seeds cells from `label`; a 100 TB deployment
    * trains √N cells, making the probe sub-quadratic). Top-k runs
    * PARTITIONED by src where the candidates live — no global sort. The
    * cell key is low-cardinality by construction, so the probe join is
    * exactly the planted-skew shape AQE's skew-join splitting handles
    * (pinned in PlanSpec); nothing in the operator relies on the cells
    * being balanced. */
  def q90(spark: SparkSession, sfDir: String): DataFrame =
    ivfKnn(spark, sfDir, NProbe)

  /** The one IVF probe: every query vector probes its `nprobe` nearest
    * trained cells and ranks the members by exact ROUND-4 cosine, ties by
    * dst, keeping its top `k` as (src, rk, dst, sim).
    *
    * `subBits` is the dial between exactness and linear scaling. At 0 the
    * probe scans whole cells (q90, q143, q158): per-query candidate volume
    * is nprobe·N/ncells, so total probe work is Θ(N^1.5) under
    * ncells ∝ √N. Above 0 each cell's members are subdivided by a
    * `subBits`-bit random-hyperplane subcode (sign bits of the first
    * `subBits` Ann projections, the q38/q85 plane family, Charikar
    * STOC'02), and a query probes, within each probed cell, only its own
    * subcell plus the single least-confident bit flip (query-directed
    * multi-probe, Lv et al. VLDB'07: the bit whose projection magnitude is
    * smallest is the likeliest to differ for a true neighbor). With
    * subBits sized to hold ~100-member subcells, per-query volume is
    * nprobe·2·⟨subcell⟩, constant in corpus size, so total probe work is
    * Θ(N) (q146, q147, q181, q186). The residual super-linear term is the
    * assignment and probe-ranking cosine pass (N·ncells): map-side
    * broadcast FMAs with no shuffle. The price is recall: a true neighbor
    * whose subcode differs in ≥ 2 bits is cut. LlmOpsSpec pins the limit
    * identity (nprobe = ncells ∧ subBits = 0 ⇒ exact k-NN row for row)
    * and a recall floor at subBits = 2.
    *
    * Hooks, all applied before ranking, never as a post-top-k filter:
    * `memberPrune` prunes the member side before subcoding and the probe
    * join (q143/q147's label predicate); `excludeSameLabel` drops
    * candidate pairs of equal label (q158/q181: the exclusion is
    * query-relative, so it cannot be a member prune); `queryFilter`
    * restricts which vectors act as queries before probe ranking while
    * the index still covers the corpus (q186; per-src ranks are
    * independent, so pre- and post-filtering agree).
    *
    * A (src, dst) pair meets at most once, so nothing deduplicates before
    * the rank window: the argmax cell assignment is unique (ties to the
    * lower cell), so each dst has exactly one (cell, code, salt), and a
    * src's probe rows have distinct (cell, code) — distinct cells from
    * the probe ranking, and within a cell the two codes differ in the
    * flipped bit. Deterministic end to end: seeded hyperplanes, the
    * argmin-|projection| flip with ties to the lower plane, dst-hash
    * salts. */
  private[graft] def ivfKnn(spark: SparkSession, sfDir: String,
      nprobe: Int, subBits: Int = 0,
      memberPrune: DataFrame => DataFrame = identity,
      excludeSameLabel: Boolean = false,
      k: Int = KnnK,
      queryFilter: DataFrame => DataFrame = identity): DataFrame = {
    import graft.ops.Ann
    require(subBits >= 0 && subBits <= 16, s"subBits=$subBits out of range")
    def subcode(emb: Column): Column =
      (0 until subBits)
        .map(j => when(Ann.projection(emb, j) > 0, lit(1L << j)).otherwise(lit(0L)))
        .reduce(_ + _)
    val emb = Tables.embeddings(spark, sfDir)
    val cells = codebook(trainedComponents(emb))
    // eager pin: `assigned` and `probes` both derive from this frame and
    // meet again in the probe join (the q104 shape)
    val sims = cellSims(emb, cells).localCheckpoint(true)
    // join-back of the embedding onto the one surviving (vec_id, cell)
    // row per vector — the argmax ranks THIN rows (see cellSims)
    val assigned = argmaxCell(sims)
      .join(emb.select(col("vec_id"), col("embedding")), Seq("vec_id"))
    val wProbe = org.apache.spark.sql.expressions.Window
      .partitionBy(col("vec_id")).orderBy(col("csim").desc, col("cell"))
    // rank cells on the NARROW (vec_id, cell, csim) frame — carrying the
    // 64-float embedding through the window shuffle/sort costs ~10x the
    // bytes for rows that are about to be filtered to nprobe per vector —
    // then join the query embedding (and, for the label exclusion, the
    // query's label) back onto the surviving probe rows
    val srcLabel = if (excludeSameLabel) Seq(col("label").as("src_label")) else Nil
    val probeRows = queryFilter(sims.select(col("vec_id"), col("cell"), col("csim")))
      .withColumn("rn", row_number().over(wProbe))
      .filter(col("rn") <= nprobe)
      .select(col("vec_id").as("src"), col("cell"))
      .join(emb.select(Seq(col("vec_id").as("src"), col("embedding").as("emb_a")) ++
        srcLabel: _*), Seq("src"))
    val probes =
      if (subBits == 0) probeRows
      else {
        // least-confident bit = argmin |projection| over the subcode planes
        // (array_sort on (|proj|, j) structs — lexicographic, ties to the
        // lower plane index)
        val flip = element_at(array_sort(array((0 until subBits).map(j =>
          struct(abs(Ann.projection(col("emb_a"), j)).as("a"),
            lit(j).as("j"))): _*)), 1).getField("j")
        probeRows
          .withColumn("code0", subcode(col("emb_a")))
          .withColumn("flip", flip)
          .select(probeRows.columns.toSeq.map(col) :+
            explode(array(col("code0"),
              expr("code0 ^ shiftleft(CAST(1 AS BIGINT), flip)"))).as("code"): _*)
      }
    // Salt the probe join. Its key at subBits = 0 is the bare cell,
    // ncells-cardinality, so an unsalted shuffle uses at most ncells tasks
    // and one giant task per hot cell. Each member takes ONE salt from its
    // dst hash (never rand(): replay/compare discipline) and each probe
    // row replicates across all salts, so every (probe, member) pair still
    // meets exactly once. saltN halves per subcode bit, so the key
    // cardinality ncells·2^subBits·saltN stays ≥ ncells·ProbeSalt at every
    // operating point, and from subBits ≥ 3 the salt is free (saltN = 1:
    // a one-element explode, no probe replication). The replicated side is
    // the N·nprobe·saltN small probe rows; the member side, the big one at
    // corpus scale, is never replicated.
    val saltN = math.max(1L, ProbeSalt >> subBits)
    val pruned = memberPrune(assigned
      .select(col("cell"), col("vec_id").as("dst"), col("embedding").as("emb_b")))
    val labelled = if (excludeSameLabel)
        pruned.join(emb.select(col("vec_id").as("dst"), col("label").as("dst_label")),
          Seq("dst"))
      else pruned
    val members = (if (subBits == 0) labelled
      else labelled.withColumn("code", subcode(col("emb_b"))))
      .withColumn("salt", pmod(xxhash64(col("dst")), lit(saltN)))
    val saltedProbes = probes
      .withColumn("salt", explode(sequence(lit(0L), lit(saltN - 1L))))
    val key = if (subBits == 0) Seq("cell", "salt") else Seq("cell", "code", "salt")
    val notSelf = col("src") =!= col("dst")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("src")).orderBy(col("sim").desc, col("dst"))
    saltedProbes.join(members, key)
      .filter(if (excludeSameLabel) notSelf && col("dst_label") =!= col("src_label")
        else notSelf)
      .select(col("src"), col("dst"),
        round4(cosine(col("emb_a"), col("emb_b"))).as("sim"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("src"), col("rk"), col("dst"), col("sim"))
      .orderBy(col("src"), col("rk"))
  }

  /** Declared subcode width for q146/q147/q181/q186 — the law-pinned
    * recall point (LlmOpsSpec: recall 0.390 vs flat q90's 0.588 at
    * sf0.001) where the per-query candidate volume is already
    * constant-bounded. The scale-keyed production dial (subBits sized to
    * hold ~100-member subcells) lives in BenchScale.tunedSubBits; the
    * DECLARED query fixes the width so the oracle mirrors one
    * deterministic computation. */
  val TunedSubBits = 2

  /** q146: the TUNED IVF k-NN graph — q90's operator at the Θ(N)-probe
    * operating point, the configuration a 100 TB deployment runs (fresh-JVM
    * growth exponent 0.49 against the flat probe's 1.47 on the ×32→×64
    * octave). Same output shape as q90/q77 (src, rk, dst, sim); recall at
    * the declared [[TunedSubBits]] is the documented trade. The oracle
    * mirrors the whole subcode/multi-probe chain. */
  def q146(spark: SparkSession, sfDir: String): DataFrame =
    ivfKnn(spark, sfDir, NProbe, TunedSubBits)

  /** q147: FILTERED × TUNED ANN — q143's member-side metadata prune
    * composed with q146's subcode multi-probe: the literal production
    * query of a predicate-aware vector store at the Θ(N) operating point.
    * The label prune left-semi-joins the member side BEFORE subcoding and
    * the (cell, code, salt) probe join — no cosine and no subcode is ever
    * computed for a non-matching vector. */
  def q147(spark: SparkSession, sfDir: String): DataFrame =
    ivfKnnFiltered(spark, sfDir, NProbe, TunedSubBits)

  /** The q143/q147 probe: [[ivfKnn]] with the member side left-semi
    * pruned to label ∈ [[FilterLabels]]. */
  private[graft] def ivfKnnFiltered(spark: SparkSession, sfDir: String,
      nprobe: Int, subBits: Int = 0): DataFrame = {
    val keep = Tables.embeddings(spark, sfDir)
      .filter(col("label").isin(FilterLabels.map(Int.box): _*))
      .select(col("vec_id").as("dst"))
    ivfKnn(spark, sfDir, nprobe, subBits,
      members => members.join(keep, Seq("dst"), "left_semi"))
  }

  /** q143 member predicate: the metadata filter the kNN is constrained to,
    * as a pushable IN-list (modulo/arbitrary expressions never reach the
    * parquet source; an IN-list lands in PushedFilters, so at corpus scale
    * the member scan reads only matching row groups). */
  val FilterLabels: Seq[Int] = Seq(0, 3, 6, 9)

  /** q143: FILTERED ANN — metadata-predicated kNN, the query every real
    * vector-search deployment hits almost immediately: for every vector,
    * its top-KnnK nearest neighbors AMONG the vectors satisfying a
    * metadata predicate (label ∈ [[FilterLabels]]), through the SAME
    * trained IVF index as q90. The predicate is applied to the MEMBER side
    * BEFORE the probe join — never post-ranking — so the probe scans
    * Σ|probed cell ∩ predicate| candidates and no cosine is ever computed
    * for a non-matching vector (post-filtering top-k instead would starve:
    * k survivors of a 40% predicate need k/0.4 retrieved).
    *
    * Scale posture: q90's probe plus one left-semi prune of the member
    * side against the label-filtered scan — the filter is IN-pushable so
    * the prune starts at the source, and the semi join re-uses the
    * assignment's vec_id hash partitioning. Queries whose probed cells
    * hold no matching member return fewer than k rows (absent, not
    * padded) — both engines agree. */
  def q143(spark: SparkSession, sfDir: String): DataFrame =
    ivfKnnFiltered(spark, sfDir, NProbe)

  /** q158: HARD-NEGATIVE mining — for every vector, its top-KnnK nearest
    * neighbors with a DIFFERENT label, through the same trained IVF index
    * as q90/q143: the contrastive-training op (the "hard negatives" a
    * similarity model trains against are exactly the most-similar items
    * that should NOT match). Unlike q143's corpus-constant predicate,
    * the exclusion here is QUERY-RELATIVE (dst.label ≠ src.label), so a
    * member-side pre-prune is impossible by construction — the filter
    * runs on the candidate pairs BEFORE ranking (never post-top-k, which
    * would starve queries whose nearest candidates share their label:
    * k survivors of an f-fraction exclusion need k/f retrieved). Queries
    * whose probed cells hold only same-label members return fewer than k
    * rows — absent, not padded; both engines agree.
    *
    * Scale posture: q90's probe; the two label columns ride the existing
    * probe/member frames (one int each), so the exclusion costs one
    * codegen'd comparison per candidate — no extra shuffle. */
  def q158(spark: SparkSession, sfDir: String): DataFrame =
    ivfKnn(spark, sfDir, NProbe, excludeSameLabel = true)

  /** q181: HARD-NEGATIVE mining at the TUNED operating point — q158's
    * semantics (top-KnnK different-label neighbors) riding q146's subcode
    * multi-probe instead of the flat cell scan: the configuration a
    * 100 TB mining job runs. The query-relative exclusion rides the
    * candidate-pair filter inside the (cell, code, salt) join, still
    * strictly BEFORE ranking. Per-query candidate volume is q146's
    * constant NProbe·2·⟨subcell⟩, so total probe work is Θ(N) where q158's
    * flat composition measured growth exponent 1.39 on the scale ladder. */
  def q181(spark: SparkSession, sfDir: String): DataFrame =
    ivfKnn(spark, sfDir, NProbe, TunedSubBits, excludeSameLabel = true)

  /** q102 quantization scale for the per-dimension stats: 1e6 keeps every
    * scaled component exact in signed-64 (|x| < 10³ → |qx| < 10⁹; summed
    * over 10¹² corpus rows still < 2⁶³) while preserving 6 decimal digits
    * — the same floor-quantize discipline as [[CentroidScale]]. */
  val StatScale = 1000000L

  /** q102: embedding-column audit — per-dimension distribution stats over
    * the whole corpus, the pre-training sanity panel every vector pipeline
    * runs (dead dimensions, scale drift, saturated signs): for each
    * dimension i → n, n_pos (strictly positive count), mean4 (half-up from
    * exact scaled-integer sums — the q55 centroid discipline, so the
    * corpus-wide float SUM never depends on partial-agg combine order),
    * and min6/max6 (MIN/MAX over the floor-quantized BIGINTs — order-free
    * — reported at the 1e-6 quantization).
    *
    * Scale posture: ONE pass — posexplode to (i, x) rows (map-side, no
    * duplication beyond the 64× the stats themselves need), then a single
    * mergeable groupBy(i) with exact-integer partials; output is
    * dim-cardinality (64 rows) regardless of corpus size. No window, no
    * join, no float accumulation anywhere. */
  def q102(spark: SparkSession, sfDir: String): DataFrame =
    statFinalize(statPartials(Tables.embeddings(spark, sfDir)))

  /** q102's mergeable partial frame (i, n, n_pos, sq, mnq, mxq) — exact
    * integers, so partials from disjoint corpus slices combine by
    * sum/sum/sum/min/max with no precision question. Shared with the
    * streaming store (s21), which is what makes stream-vs-batch parity
    * by construction. */
  private[graft] def statPartials(emb: DataFrame): DataFrame =
    emb
      .select(posexplode(col("embedding")).as(Seq("pos", "x")))
      .select((col("pos") + 1).cast("int").as("i"),
        floor(col("x").cast("double") * StatScale).cast("long").as("qx"),
        when(col("x") > 0, 1L).otherwise(0L).as("pos1"))
      .groupBy(col("i"))
      .agg(count(lit(1)).as("n"), sum(col("pos1")).as("n_pos"),
        sum(col("qx")).as("sq"), min(col("qx")).as("mnq"), max(col("qx")).as("mxq"))

  /** q102's output formula over a (possibly merged) partial frame. */
  private[graft] def statFinalize(partials: DataFrame): DataFrame = {
    val den = s"(n * ${StatScale}L)"
    partials
      .withColumn("m4",
        expr(s"CASE WHEN sq >= 0 THEN (sq * 10000 + $den div 2) div $den " +
          s"ELSE -(((-sq) * 10000 + $den div 2) div $den) END"))
      .select(col("i"), col("n"), col("n_pos"),
        (col("m4").cast("double") / 10000.0).as("mean4"),
        (col("mnq").cast("double") / StatScale.toDouble).as("min6"),
        (col("mxq").cast("double") / StatScale.toDouble).as("max6"))
      .orderBy(col("i"))
  }

  /** q104: mutual-kNN semantic clusters — the graph-clustering step on
    * top of the q77 neighbor lists: keep only MUTUAL edges (u is in v's
    * top-k AND v is in u's — the classic reciprocal-NN filter that
    * discards asymmetric hub links), then resolve connected components
    * with the q57 machinery. Output: every clustered vector with its
    * cluster id (= min vec_id in the cluster) and cluster size — the
    * "semantic dedup groups" q81 approximates pairwise, here derived from
    * the kNN graph the pipeline already materializes.
    *
    * Scale posture: the neighbor table is N·k rows (bucket-collision
    * bounded, per q77); the mutual filter is ONE left-semi equi-join of
    * that table against its own flip — no new quadratic term; components
    * run the lineage-truncated min-label fixpoint (edge table ≤ N·k/2).
    * The oracle mirrors semantics with q77's bucket CTE + a recursive
    * reachability CTE (the q57 oracle pattern). */
  def q104(spark: SparkSession, sfDir: String): DataFrame =
    mutualKnnClustersOn(knnPairs(spark, sfDir))

  /** q104 core on an arbitrary (src, dst, …) neighbor table so the scale
    * rehearsal can feed it the density-scaled [[knnPairsOn]] output. */
  private[graft] def mutualKnnClustersOn(pairs: DataFrame): DataFrame = {
    // Dsl.pin (blocking-fill cache), NOT a lazy cache and NOT bare: the
    // reciprocal semi-join's two branches shuffle on DIFFERENT keys
    // ((src,dst) vs the flip), so only the neighbor aggregate's exchange
    // below them is reusable — the rank window + top-k filter above it
    // would run twice unpinned (measured +1.5 s at sf0.1). The r9
    // under-match here (fragmented clusters on a cold session) was a
    // LAZY cache first materialized mid-job; the blocking fill means no
    // consumer can observe a partially-built pin.
    // parts scales with the session's shuffle width, NOT the local-mode
    // default 4: the neighbor table is N·k rows — corpus-scaling, so the
    // pin must keep parallelism and per-partition memory bounded at the
    // bench's ×32/×64 densities too (r11 advisor; pin's own parts rule)
    val pinParts = math.max(8,
      pairs.sparkSession.conf.get("spark.sql.shuffle.partitions", "32").toInt / 4)
    val nn = graft.ops.Dsl.pin(pairs.select(col("src"), col("dst")), pinParts)
    val mutual = nn
      .join(nn.select(col("dst").as("src"), col("src").as("dst")),
        Seq("src", "dst"), "left_semi")
      .filter(col("src") < col("dst"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cluster"))
    Dedup.connectedComponents(mutual)
      .select(col("node").as("vec_id"), col("label").as("cluster"))
      .withColumn("n_members", count(lit(1)).over(w))
      .orderBy(col("vec_id"))
  }

  /** q107 output size: top outliers reported. */
  val OutlierTopK = 20

  /** q107: embedding-norm outlier screen — the per-VECTOR audit next to
    * q102's per-dimension panel: the [[OutlierTopK]] vectors whose L2
    * norm deviates most from the corpus mean (broken encodings, zero
    * vectors, scale glitches — the rows a vector pipeline quarantines
    * before indexing). Norm is the fold-parity sequential sum of squares
    * (the Ann/list_reduce discipline — bit-identical across engines),
    * floor-quantized to 1e-6; the deviation SCORE is exact integer
    * arithmetic: |qnorm·N − Σqnorm| (the absolute deviation from the
    * mean, rescaled by N·10⁶ so no division ever happens — exact in
    * signed-64 up to qnorm·N ~ 9·10¹⁸, i.e. norms ≤ ~10³ at 10⁹
    * vectors; beyond that the score moves to DECIMAL).
    *
    * Scale posture: one map-side projection computes qnorm inside the
    * scan stage; the corpus statistic is a single-row aggregate
    * broadcast back (allowlisted BNLJ); the top-k is a TakeOrdered —
    * no shuffle ever carries the embedding column. */
  def q107(spark: SparkSession, sfDir: String): DataFrame = {
    val norm2 = aggregate(col("embedding"), lit(0.0),
      (acc, v) => acc + v.cast("double") * v.cast("double"))
    val q = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), floor(sqrt(norm2) * 1000000.0).cast("long").as("qnorm"))
    val st = q.agg(sum(col("qnorm")).as("s"), count(lit(1)).as("n"))
    q.crossJoin(broadcast(st))
      .select(col("vec_id"),
        (col("qnorm").cast("double") / 1000000.0).as("norm6"),
        abs(col("qnorm") * col("n") - col("s")).as("score"))
      .orderBy(col("score").desc, col("vec_id"))
      .limit(OutlierTopK)
  }

  /** q112 geometry: the 64-dim space split into PqSub contiguous
    * 8-dim subspaces, PqCells centroids per subspace — the classic
    * m=8 / k=16 product-quantization layout (Jégou et al., TPAMI'11):
    * each vector stores 8×4 = 32 bits, a 64× shrink over float32. */
  val PqSub = 8
  val PqSubDim = 8
  val PqCells = 16

  /** q112: product quantization + ADC ranking — the third ANN storage
    * point next to q59/q65's scalar quantization: per-subspace k-means
    * codebooks (the q55 Lloyd machinery on sub-vectors, same
    * scaled-integer centroid discipline, seeded vec_id mod k), every
    * vector encoded as its 8 nearest-subcentroid codes, and the query
    * ranked by ASYMMETRIC distance — the query's exact sub-vectors
    * against each subspace's centroid table, so the only approximation
    * is the database side's quantization. Vectors are L2-normalized
    * first (the q65 discipline), which makes squared-L2 ranking agree
    * with cosine ranking (d² = 2 − 2·cos on unit vectors) — that is
    * what makes the LlmOpsSpec recall floor vs exact q31 meaningful.
    *
    * Determinism: centroids are exact-integer scaled sums finalized by
    * two IEEE divisions (q55); every distance folds sequentially from
    * 0.0 (list_reduce parity); assignment ties break (d2, cell)
    * lexicographic via MIN over a struct — an order-free mergeable
    * aggregate, not a window; and the ADC ranking key is an exact
    * BIGINT: per-(subspace, cell) lookup values floor-quantized to 1e6
    * and SUMMED as longs, so the top-10 order never touches float
    * association.
    *
    * Scale posture: training shuffles only (s, cell, i, long) partials
    * (map-side combined, 8·16·8 = 1024 output rows regardless of corpus
    * size); the codebook broadcasts (1024 doubles); encode is a
    * broadcast join + mergeable MIN aggregate — one narrow shuffle of
    * (vec_id, s) rows; ADC is a broadcast 128-row LUT join + one
    * (vec_id, long) sum + TakeOrdered. No corpus-scale window, no
    * embedding column through any shuffle after the sub-split. */
  def q112(spark: SparkSession, sfDir: String): DataFrame = {
    val sub = subVectors(Tables.embeddings(spark, sfDir))
    // The TRAIN loop gets an eagerly pinned copy (every Lloyd round
    // re-reads it — r9 pinning discipline); the READ path (encode + LUT)
    // deliberately does NOT: a checkpointed corpus frame referenced by
    // the final stage rides its whole closure graph into every task
    // binary (measured 3.1 MiB submissions), where recomputing the
    // narrow scan→normalize→slice map costs one extra parquet pass and
    // no shuffle. The codebook IS checkpointed: 128 rows, Aggregate-rooted
    // (the UnionBase rule), and it truncates the whole train-loop lineage
    // out of the final plan.
    val cb = pqCodebook(trainedPqComponents(sub.localCheckpoint(true)))
      .localCheckpoint(true)
    val codes = pqAssign(sub, cb)
    // the query's exact (unquantized) sub-vectors → per-(s, cell) lookup
    // table, floor-quantized so the rank key is an exact integer
    val lut = sub.filter(col("vec_id") === 0)
      .select(col("s"), col("sv").as("qsv"))
      .join(broadcast(cb), Seq("s"))
      .select(col("s"), col("cell"),
        floor(subDist(col("qsv"), col("cvec")) * lit(1000000.0)).cast("long").as("dq"))
    codes.filter(col("vec_id") =!= 0)
      .join(broadcast(lut), Seq("s", "cell"))
      .groupBy(col("vec_id"))
      .agg(sum(col("dq")).as("qd"))
      .select(col("vec_id"), col("qd"),
        (col("qd").cast("double") / 1000000.0).as("adist6"))
      .orderBy(col("qd"), col("vec_id"))
      .limit(10)
  }

  /** (vec_id, s, sv): each vector L2-normalized (zero vectors stay zero)
    * and split into [[PqSub]] contiguous [[PqSubDim]]-dim sub-vectors. */
  private[graft] def subVectors(emb: DataFrame): DataFrame =
    emb
      .select(col("vec_id"), transform(col("embedding"), v => v.cast("double")).as("xd"))
      .select(col("vec_id"), col("xd"),
        sqrt(aggregate(col("xd"), lit(0.0), (a, v) => a + v * v)).as("nrm"))
      .select(col("vec_id"),
        transform(col("xd"), v =>
          when(col("nrm") === 0.0, lit(0.0)).otherwise(v / col("nrm"))).as("nx"))
      .select(col("vec_id"), explode(sequence(lit(0), lit(PqSub - 1))).as("s"), col("nx"))
      .select(col("vec_id"), col("s"),
        slice(col("nx"), col("s") * PqSubDim + 1, lit(PqSubDim)).as("sv"))

  /** Sequential-fold squared L2 between a sub-vector and a centroid —
    * the one distance definition, list_reduce-parity on both engines. */
  private[graft] def subDist(sv: Column, cvec: Column): Column =
    aggregate(zip_with(sv, cvec, (x, c) => (x - c) * (x - c)),
      lit(0.0), (a, v) => a + v)

  /** Per-(s, cell, i) scaled component sums — the q55 reduce on
    * sub-vectors. Input rows: (s, cell, sv). */
  private def pqComponents(assigned: DataFrame): DataFrame =
    assigned
      .select(col("s"), col("cell"), posexplode(col("sv")).as(Seq("pos", "x")))
      .groupBy(col("s"), col("cell"), (col("pos") + 1).as("i"))
      .agg(sum(floor(col("x") * CentroidScale).cast("long")).as("sq"),
        count(lit(1)).as("n"))

  /** (s, cell) → ordered centroid vector (exact BIGINT / scale / n —
    * the q55 codebook finalize). */
  private[graft] def pqCodebook(comps: DataFrame): DataFrame =
    comps
      .select(col("s"), col("cell"), col("i"),
        ((col("sq").cast("double") / CentroidScale) / col("n")).as("c"))
      .groupBy(col("s"), col("cell"))
      .agg(transform(array_sort(collect_list(struct(col("i"), col("c")))),
        e => e.getField("c")).as("cvec"))

  /** Nearest-subcentroid assignment per (vec_id, s): the whole subspace
    * codebook (PqCells rows) broadcasts as ONE array column per s, and
    * the argmin is a row-local array_min over struct(d2, cell) —
    * lexicographic, so the tie-break is exactly the former
    * MIN_BY-over-struct(d2, cell): (d2 asc, cell asc). r18 rewrite
    * (guide §2.4 remove shuffles outright): the min_by form exploded the
    * corpus 16× through a broadcast join and then aggregated it back —
    * and min_by over struct-typed buffers plans as SortAggregate, i.e.
    * TWO corpus-scale sorts and an Exchange per Lloyd round (the q112
    * before-plan's ops (12)–(16)). This form is one 8-row broadcast join
    * plus a projection: zero exchanges, zero sorts, no row blowup, and
    * the sub-vector stays on its own row instead of riding through an
    * aggregate buffer. Distances and the (d2 asc, cell asc) order are
    * computed by the same subDist fold on the same doubles, so the
    * chosen cell is bit-identical. */
  private[graft] def pqAssign(sub: DataFrame, cb: DataFrame): DataFrame = {
    // canonical (cell asc) candidate order — array_min doesn't need it,
    // but it keeps the broadcast payload deterministic
    val cbArr = cb.groupBy(col("s"))
      .agg(array_sort(collect_list(struct(col("cell"), col("cvec")))).as("cands"))
    sub.join(broadcast(cbArr), Seq("s"))
      .select(col("vec_id"), col("s"), col("sv"),
        array_min(transform(col("cands"), e =>
          struct(subDist(col("sv"), e.getField("cvec")).as("d2"),
            e.getField("cell").as("cell")))).as("m"))
      .select(col("vec_id"), col("s"),
        col("m").getField("cell").as("cell"), col("sv"))
  }

  /** Per-subspace Lloyd training: vec_id-mod-k seeding, then LloydRounds
    * × (assign → recompute), lineage-truncated per round (q55's loop on
    * (s, cell) keys). */
  private[graft] def trainedPqComponents(sub: DataFrame): DataFrame = {
    var comps = pqComponents(
      sub.select(col("s"), pmod(col("vec_id"), lit(PqCells.toLong)).cast("int").as("cell"),
        col("sv")))
    for (_ <- 1 to LloydRounds)
      comps = pqComponents(
        pqAssign(sub, pqCodebook(comps)).select(col("s"), col("cell"), col("sv")))
        .localCheckpoint(true)
    comps
  }

  /** q175 panel: how many query vectors audit the truncation. */
  val TruncQueries = 8
  /** q175 truncated width — the Matryoshka operating point under audit
    * (a quarter of the shipped 64 dims). */
  val TruncDims = 16

  /** q175: embedding-truncation (Matryoshka) recall audit — for a panel
    * of [[TruncQueries]] query vectors, how much of the exact top-KnnK
    * neighborhood survives when every cosine runs on only the FIRST
    * [[TruncDims]] dimensions: the measurement a vector-store operator
    * makes before shipping truncated (MRL-style) embeddings, because a
    * 4× dimension cut is a 4× cost cut exactly when this recall says it
    * is. Both rankings share q77's tie discipline (ROUND-4 sim DESC,
    * dst) and the overlap is counted on a SINGLE candidate frame
    * carrying both similarities — two row_number windows over the same
    * per-src partitioning, one shuffle.
    *
    * Scale posture: the panel is a constant-row broadcast (q95's
    * constant-panel BNLJ shape, NoCartesian-allowlisted), so candidate
    * volume is TruncQueries·N = Θ(N); ranks are per-src partitioned
    * windows; output is one row per query. The audit's exactness: both
    * cosines are the native fold-parity expression over the full/sliced
    * arrays — bit-identical to the oracle's list kernels.
    *
    * Laws: auditing at the full 64-dim width is the identity (recall
    * 1.0 for every query); overlap never exceeds k. */
  def q175(spark: SparkSession, sfDir: String): DataFrame =
    truncationRecall(Tables.embeddings(spark, sfDir), TruncDims)

  /** q175 kernel at an arbitrary truncation width (identity-law seam). */
  private[graft] def truncationRecall(emb: DataFrame, dims: Int): DataFrame = {
    val queries = emb.filter(col("vec_id") < TruncQueries)
      .select(col("vec_id").as("src"), col("embedding").as("qvec"))
    val sims = emb.select(col("vec_id").as("dst"), col("embedding"))
      .join(broadcast(queries))
      .filter(col("src") =!= col("dst"))
      .select(col("src"), col("dst"),
        round4(cosine(col("embedding"), col("qvec"))).as("sim_full"),
        round4(cosine(slice(col("embedding"), 1, dims),
          slice(col("qvec"), 1, dims))).as("sim_tr"))
    val wf = org.apache.spark.sql.expressions.Window
      .partitionBy(col("src")).orderBy(col("sim_full").desc, col("dst"))
    val wt = org.apache.spark.sql.expressions.Window
      .partitionBy(col("src")).orderBy(col("sim_tr").desc, col("dst"))
    sims
      .withColumn("rk_f", row_number().over(wf))
      .withColumn("rk_t", row_number().over(wt))
      .groupBy(col("src"))
      .agg(sum(when(col("rk_f") <= KnnK && col("rk_t") <= KnnK, 1L)
        .otherwise(0L)).as("n_overlap"))
      .select(col("src"), lit(KnnK).as("k"), col("n_overlap"),
        ratio4(col("n_overlap"), lit(KnnK.toLong)).as("recall4"))
      .orderBy(col("src"))
  }

  /** q183 panel geometry: [[MmrQueries]] query vectors (q175's constant
    * broadcast panel), [[MmrCand]] exact-top candidates retrieved per
    * query, [[MmrK]] results selected by MMR at λ = 1/2. */
  val MmrQueries = 8
  val MmrCand = 10
  val MmrK = 5

  /** q183: MMR DIVERSITY RERANKING (maximal marginal relevance,
    * Carbonell & Goldstein '98) — the post-retrieval step every RAG /
    * search stack runs so the k results aren't k near-duplicates: from
    * each query's exact top-[[MmrCand]] candidates, greedily select
    * [[MmrK]], each step taking argmax of
    * λ·sim(q,c) − (1−λ)·max_{s∈selected} sim(c,s) at λ = 1/2 (step 1 is
    * the pure-relevance argmax; ties break to the lower dst, the q31
    * rank discipline).
    *
    * Determinism: every similarity is the ROUND-4 fold-parity cosine
    * (the shared [[graft.functions.CosineSimilarity]] discipline), and
    * the score is the same `0.5·simq − 0.5·maxpair` expression text on
    * both engines over those identical doubles — so each greedy argmax
    * compares bit-identical values and the selection is exact. The
    * oracle UNROLLS the [[MmrK]] greedy steps as chained CTEs (no
    * recursion), mirroring the engine's unrolled plan step for step.
    *
    * Scale posture: candidate retrieval is a broadcast-panel scan
    * (MmrQueries·N = Θ(N), the q95/q175 class — a production system
    * feeds the IVF candidates in instead); everything after is bounded
    * by queries × MmrCand² pair rows, and the greedy loop itself runs
    * as ONE cogrouped mapGroups over each query's constant-bounded
    * candidate/pair panel — distributed per query, never driver-
    * iterated, and free of the 20-exchange unrolled-plan overhead the
    * first cut measured (kernel scaladoc). */
  def q183(spark: SparkSession, sfDir: String): DataFrame =
    mmrRerank(Tables.embeddings(spark, sfDir))

  /** q183 kernel (planted-data seam). */
  private[graft] def mmrRerank(emb: DataFrame): DataFrame = {
    import graft.ops.Dsl.pin
    val queries = emb.filter(col("vec_id") < MmrQueries)
      .select(col("vec_id").as("src"), col("embedding").as("qvec"))
    val wc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("src")).orderBy(col("simq").desc, col("dst"))
    // exact top-MmrCand per query — pinned: the candidate frame feeds
    // the pair frame AND every greedy step (q104 pin discipline)
    val cand = pin(emb.select(col("vec_id").as("dst"), col("embedding").as("dvec"))
      .join(broadcast(queries))
      .filter(col("src") =!= col("dst"))
      .select(col("src"), col("dst"),
        round4(cosine(col("dvec"), col("qvec"))).as("simq"), col("dvec"))
      .withColumn("rc", row_number().over(wc))
      .filter(col("rc") <= MmrCand))
    mmrGreedy(cand)
  }

  /** q186: MMR AT THE PRODUCTION SHAPE — q183's greedy diversity
    * selection fed by q146's TUNED IVF candidates instead of the exact
    * broadcast-panel scan: the composition a real RAG/search stack runs
    * (retrieve approximately, rerank exactly). Retrieval is the
    * [[ivfKnn]] probe restricted to the [[MmrQueries]] query
    * panel BEFORE probe ranking (per-src ranks are independent, so the
    * restriction is result-identical to post-filtering and skips ranking
    * probes for N−Q vectors), widened to top-[[MmrCand]]; the greedy is
    * the SAME [[mmrGreedy]] cogrouped kernel over the same round-4
    * fold-parity cosines, so LlmOpsSpec pins the identity: at
    * nprobe = ncells ∧ subBits = 0 the candidate set is the exact top-k
    * (q146's limit identity) and the output equals q183 row for row —
    * the q158→q181 move, repeated.
    *
    * Scale posture: the candidate scan drops from q183's Θ(N·Q)
    * broadcast panel to q146's constant NProbe · 2 · ⟨subcell⟩ per query
    * (Θ(1) per query once the index is built — the index build itself is
    * q146's, already on the ladder); everything after is bounded by
    * queries × MmrCand² rows. Fewer than MmrCand candidates may survive
    * for a query (the approximate-retrieval trade) — the greedy then
    * selects min(MmrK, found), absent rows not padded, both engines
    * agree. */
  def q186(spark: SparkSession, sfDir: String): DataFrame =
    mmrTuned(spark, sfDir, NProbe, TunedSubBits)

  /** q186 core, parameterized so LlmOpsSpec can pin the exact-candidate
    * identity (nprobe = ncells ∧ subBits = 0 ⇒ equals q183 row for
    * row). */
  private[graft] def mmrTuned(spark: SparkSession, sfDir: String,
      nprobe: Int, subBits: Int): DataFrame = {
    import graft.ops.Dsl.pin
    val emb = Tables.embeddings(spark, sfDir)
    val knn = ivfKnn(spark, sfDir, nprobe, subBits, k = MmrCand,
      queryFilter = s => s.filter(col("vec_id") < MmrQueries))
    // re-attach candidate vectors for the pairwise sims: queries×MmrCand
    // skinny rows against the corpus — the dst side is the join key side
    // of a tiny frame, so AQE broadcasts it
    val cand = pin(knn.select(col("src"), col("dst"), col("sim").as("simq"))
      .join(emb.select(col("vec_id").as("dst"), col("embedding").as("dvec")),
        Seq("dst")))
    mmrGreedy(cand)
  }

  /** The shared MMR greedy over a (src, dst, simq, dvec) candidate frame
    * (≤ [[MmrCand]] rows per src, PINNED by the caller — it feeds the
    * pair self-join and every greedy step). */
  private def mmrGreedy(cand: DataFrame): DataFrame = {
    import graft.ops.Dsl.pin
    // pairwise candidate sims: ≤ MmrCand² rows per query, computed once
    val pair = pin(cand.select(col("src"), col("dst").as("a"), col("dvec").as("va"))
      .join(cand.select(col("src"), col("dst").as("b"), col("dvec").as("vb")), Seq("src"))
      .filter(col("a") =!= col("b"))
      .select(col("src"), col("a"), col("b"),
        round4(cosine(col("va"), col("vb"))).as("simp")))
    // The greedy selection runs as ONE mapGroups over each query's
    // ≤ MmrCand candidates + ≤ MmrCand² pair sims (r15: the first cut
    // UNROLLED the loop as MmrK plan stages — ~20 exchanges over 8-row
    // frames and 2 MiB generated-code task binaries, 8.6 s of pure plan
    // overhead in the sf0.1 bench; per-group imperative logic over a
    // constant-bounded panel is exactly the documented mapGroups
    // boundary). Every SIMILARITY is still the shared round4 fold-parity
    // cosine computed in the frames above — the Scala side only
    // compares and combines them, with the score as the textually
    // identical `0.5 * simq - 0.5 * maxp` the oracle computes, and it
    // stays UNROUNDED (q171's r discipline: differences of round4
    // cosines sit on .00005 boundaries where ROUND semantics diverge).
    val sess = cand.sparkSession
    import sess.implicits._
    val candL = cand.select(col("src"), col("dst"), col("simq"))
      .as[(Long, Long, Double)]
      .groupByKey(_._1)
    val pairMap = pair.select(col("src"), col("a"), col("b"), col("simp"))
      .as[(Long, Long, Long, Double)]
    val grouped = candL.cogroup(pairMap.groupByKey(_._1)) { (src, cs, ps) =>
      val cands = cs.map(t => (t._2, t._3)).toArray
        .sortBy { case (dst, simq) => (-simq, dst) }
      val sim = ps.map(t => ((t._2, t._3), t._4)).toMap
      val sel = scala.collection.mutable.ArrayBuffer.empty[(Int, Long, Double)]
      val chosen = scala.collection.mutable.Set.empty[Long]
      var step = 1
      while (step <= MmrK && chosen.size < cands.length) {
        var bestDst = -1L; var bestScore = Double.NegativeInfinity
        for ((dst, simq) <- cands if !chosen(dst)) {
          val score =
            if (step == 1) simq
            else {
              var maxp = Double.NegativeInfinity
              for (s <- chosen) {
                // every (candidate, selected) pair exists in the pair
                // frame by construction — a miss is a bug, throw loudly
                val p = sim((dst, s))
                if (p > maxp) maxp = p
              }
              simq * 0.5 - maxp * 0.5
            }
          // ties to the lower dst: strict > keeps the first (sorted) hit
          // only when scores tie exactly; cands is (simq desc, dst asc)
          // ordered, so iterate-and-strict-improve needs an explicit
          // dst tie-break instead
          if (score > bestScore || (score == bestScore && dst < bestDst)) {
            bestScore = score; bestDst = dst
          }
        }
        sel += ((step, bestDst, bestScore))
        chosen += bestDst
        step += 1
      }
      sel.iterator.map { case (st, dst, sc) => (src, st, dst, sc) }
    }
    grouped.toDF("src", "step", "dst", "score")
      .orderBy(col("src"), col("step"))
  }
}
