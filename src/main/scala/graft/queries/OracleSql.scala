package graft.queries

/** DuckDB 1.0.0 oracle SQL, one entry per oracle-checked query.
  *
  * Authored together with the Spark code (SURVEY.md §5.3): identical column
  * names/order, identical total ORDER BY, and identical arithmetic
  * discipline — exact DECIMAL(18,4) sums cast to DOUBLE, averages as
  * exact-sum/count, ROUND only on already-deterministic values. Integer
  * widths are aligned explicitly (DuckDB len/year/row_number return BIGINT
  * where Spark returns INT; DuckDB SUM(int) returns HUGEINT → cast BIGINT).
  *
  * `events.ts` is parquet TIMESTAMP(NANOS): DuckDB reads TIMESTAMP_NS and
  * `CAST(ts AS TIMESTAMP)` truncates to micros — the same floor the Spark
  * loader applies (Tables.events).
  */
object OracleSql {

  private val eventsCte =
    "WITH e AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, value, props FROM events)"

  /** Shared chunk-geometry CTEs at (len, stride) — ONE definition of the
    * chunk-index bound and the 1-based inclusive slice, used by q54
    * (overlapping context windows) and q76 (non-overlapping boilerplate
    * chunks) so the two oracles cannot drift geometrically. `ch` yields
    * one row per chunk: doc_id, chunk_idx, start_tok, n_chunk_tokens,
    * digest. */
  private def chunkCtes(L: Int, S: Int): String =
    s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS s FROM documents),
       |k AS (SELECT doc_id, s, CAST(len(s) AS INTEGER) AS nt FROM d),
       |c AS (SELECT doc_id, s, nt,
       |        unnest(generate_series(0, CASE WHEN nt > $L THEN (nt - $L + ${S - 1}) // $S ELSE 0 END)) AS ci
       |      FROM k),
       |ch AS (SELECT doc_id, CAST(ci AS INTEGER) AS chunk_idx, CAST(ci * $S AS INTEGER) AS start_tok,
       |        CAST(len(s[ci*$S+1 : least(ci*$S+$L, nt)]) AS INTEGER) AS n_chunk_tokens,
       |        array_to_string(s[ci*$S+1 : least(ci*$S+$L, nt)], ' ') AS chunk_text,
       |        md5(array_to_string(s[ci*$S+1 : least(ci*$S+$L, nt)], ' ')) AS digest
       |      FROM c)""".stripMargin

  /** q54 chunk listing — same constants as Text.q54. */
  private val chunkSql =
    s"""${chunkCtes(Text.ChunkLen, Text.ChunkStride)}
       |SELECT doc_id, chunk_idx, start_tok, n_chunk_tokens, digest
       |FROM ch
       |ORDER BY doc_id, chunk_idx""".stripMargin

  /** Shared IVF Lloyd's-iteration CTE chain (q55/q56): label-seeded
    * centroids refined by Vectors.LloydRounds unrolled assign→recompute
    * rounds — the identical fixpoint the Spark trainer executes, built
    * from the same constants. Parity chain: scaled floor-sums are exact
    * BIGINTs; centroid components are (sq/scale)/n — two IEEE divisions
    * in the same order on exact operands, bit-identical doubles;
    * assignment cosines fold sequentially (list_reduce, matching Spark's
    * aggregate()), so every per-round argmax — and therefore the trained
    * codebook — matches the engine bit-for-bit. `a$r` is the round-r
    * assignment, `comp$r` its recomputed components. */
  /** One recompute step: comp$r = per-(cell, i) scaled floor-sums of the
    * round-r assignment a$r. */
  private def lloydComp(r: Int): String = {
    val sc = Vectors.CentroidScale
    s"""idx$r AS (SELECT cell, embedding,
       |         unnest(generate_series(1, CAST(len(embedding) AS INTEGER))) AS i
       |       FROM a$r),
       |comp$r AS (SELECT cell, CAST(i AS INTEGER) AS i,
       |    CAST(SUM(CAST(FLOOR(CAST(embedding[i] AS DOUBLE) * $sc) AS BIGINT)) AS BIGINT) AS sq,
       |    COUNT(*) AS n
       |  FROM idx$r GROUP BY 1, 2)""".stripMargin
  }

  /** One assignment step: a$r = every vector's nearest cent$r centroid
    * (from comp${r-1}), fold-parity cosine argmax with the (csim DESC,
    * cell) tie-break — the ONE definition of the assignment, used by every
    * training round AND q56's final probe pass, mirroring Spark's single
    * `assign`. */
  private def lloydAssign(r: Int): String = {
    val sc = Vectors.CentroidScale
    s"""cent$r AS (SELECT cell, list(CAST(sq AS DOUBLE) / $sc / n ORDER BY i) AS cvec
       |         FROM comp${r - 1} GROUP BY cell),
       |sims$r AS (SELECT e.vec_id, e.embedding, c.cell,
       |    list_reduce(list_transform(range(1, CAST(len(e.embedding) AS INTEGER) + 1),
       |      j -> CAST(e.embedding[j] AS DOUBLE) * c.cvec[j]), (a, b) -> a + b)
       |    / (sqrt(list_reduce(list_transform(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a, b) -> a + b))
       |     * sqrt(list_reduce(list_transform(c.cvec, x -> x * x), (a, b) -> a + b))) AS csim
       |  FROM embeddings e CROSS JOIN cent$r c),
       |a$r AS (SELECT vec_id, embedding, cell FROM (
       |    SELECT vec_id, embedding, cell,
       |           row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, cell) AS rn
       |    FROM sims$r) WHERE rn = 1)""".stripMargin
  }

  private def lloydChain(rounds: Int): String =
    (Seq(
      "WITH a0 AS (SELECT vec_id, embedding, label AS cell FROM embeddings)",
      lloydComp(0)) ++
      (1 to rounds).flatMap(r => Seq(lloydAssign(r), lloydComp(r))))
      .mkString(",\n")

  private val centroidSql = {
    val sc = Vectors.CentroidScale
    val R = Vectors.LloydRounds
    // ROUND(c,4) in exact integer arithmetic, mirroring Vectors.q55:
    // sign(sq)·(|sq|·10⁴ + sc·n/2) // (sc·n), all BIGINT (operands
    // positive, so DuckDB's floor-div == Spark's trunc-div), then one IEEE
    // division by 10⁴ — bit-identical across engines, where ROUND of a
    // double is not (Spark HALF_UP on exact BigDecimal vs DuckDB float).
    s"""${lloydChain(R)}
       |SELECT cell, i, n AS n_vecs,
       |  (CASE WHEN sq >= 0 THEN (sq * 10000 + (n * $sc) // 2) // (n * $sc)
       |        ELSE -(((-sq) * 10000 + (n * $sc) // 2) // (n * $sc)) END) / 10000.0 AS c
       |FROM comp$R
       |ORDER BY cell, i""".stripMargin
  }

  /** q112 oracle: the PQ train/encode/ADC chain unrolled from the SAME
    * constants the engine uses (PqSub/PqSubDim/PqCells/CentroidScale/
    * LloydRounds). Distances fold from a prepended 0.0 (the engine's
    * aggregate() seed); assignment is row_number with the (d2, cell)
    * tie-break — semantically the engine's MIN_BY over struct(d2, cell);
    * the ADC rank key is the exact BIGINT sum of floor-quantized lookup
    * values, so the top-10 order is integer-deterministic in both
    * engines. */
  private val pqSql: String = {
    val sc = Vectors.CentroidScale
    val (m, d, k) = (Vectors.PqSub, Vectors.PqSubDim, Vectors.PqCells)
    val R = Vectors.LloydRounds
    def comp(r: Int) =
      s"""pcomp$r AS MATERIALIZED (
         |  SELECT s, cell, CAST(i AS INTEGER) AS i,
         |    CAST(SUM(CAST(FLOOR(sv[CAST(i AS INTEGER)] * $sc) AS BIGINT)) AS BIGINT) AS sq,
         |    COUNT(*) AS n
         |  FROM pa$r, unnest(generate_series(1, $d)) AS u(i)
         |  GROUP BY 1, 2, 3)""".stripMargin
    def assign(r: Int) =
      s"""pcent$r AS MATERIALIZED (
         |  SELECT s, cell, list(CAST(sq AS DOUBLE) / $sc / n ORDER BY i) AS cvec
         |  FROM pcomp${r - 1} GROUP BY s, cell),
         |psims$r AS (SELECT v.vec_id, v.s, v.sv, c.cell,
         |    list_reduce(list_prepend(0.0, list_transform(range(1, ${d + 1}),
         |      j -> (v.sv[CAST(j AS INTEGER)] - c.cvec[CAST(j AS INTEGER)])
         |         * (v.sv[CAST(j AS INTEGER)] - c.cvec[CAST(j AS INTEGER)]))),
         |      (a, b) -> a + b) AS d2
         |  FROM sub v JOIN pcent$r c ON v.s = c.s),
         |pa$r AS MATERIALIZED (SELECT vec_id, s, sv, cell FROM (
         |    SELECT vec_id, s, sv, cell,
         |           row_number() OVER (PARTITION BY vec_id, s ORDER BY d2, cell) AS rn
         |    FROM psims$r) WHERE rn = 1)""".stripMargin
    val probe = R + 1
    (Seq(
      s"""WITH nv AS (
         |  SELECT vec_id,
         |    list_transform(embedding,
         |      x -> CASE WHEN nrm = 0 THEN 0.0 ELSE CAST(x AS DOUBLE) / nrm END) AS nx
         |  FROM (SELECT vec_id, embedding,
         |          sqrt(list_reduce(list_prepend(0.0,
         |            list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))),
         |            (a, b) -> a + b)) AS nrm
         |        FROM embeddings)),
         |sub AS MATERIALIZED (
         |  SELECT vec_id, CAST(s AS INTEGER) AS s,
         |         nx[CAST(s * $d + 1 AS INTEGER) : CAST(s * $d + $d AS INTEGER)] AS sv
         |  FROM nv, unnest(generate_series(0, ${m - 1})) AS u(s)),
         |pa0 AS MATERIALIZED (
         |  SELECT vec_id, s, sv, CAST(vec_id % $k AS INTEGER) AS cell FROM sub)""".stripMargin,
      comp(0)) ++
      (1 to R).flatMap(r => Seq(assign(r), comp(r))) ++
      Seq(assign(probe),
        s"""lut AS (SELECT c.s, c.cell,
           |    CAST(FLOOR(list_reduce(list_prepend(0.0, list_transform(range(1, ${d + 1}),
           |      j -> (q.sv[CAST(j AS INTEGER)] - c.cvec[CAST(j AS INTEGER)])
           |         * (q.sv[CAST(j AS INTEGER)] - c.cvec[CAST(j AS INTEGER)]))),
           |      (a, b) -> a + b) * 1000000.0) AS BIGINT) AS dq
           |  FROM (SELECT s, sv FROM sub WHERE vec_id = 0) q
           |  JOIN pcent$probe c ON q.s = c.s)""".stripMargin))
      .mkString(",\n") +
      s"""
         |SELECT vec_id, qd, qd / 1000000.0 AS adist6
         |FROM (SELECT a.vec_id, CAST(SUM(l.dq) AS BIGINT) AS qd
         |      FROM pa$probe a JOIN lut l ON a.s = l.s AND a.cell = l.cell
         |      WHERE a.vec_id <> 0
         |      GROUP BY a.vec_id)
         |ORDER BY qd, vec_id
         |LIMIT 10""".stripMargin
  }

  private val ivfProbeSql = {
    val R = Vectors.LloydRounds
    val probe = R + 1
    // after the trained chain: one more lloydAssign pass under the FINAL
    // centroids (comp$R), then the query's NProbe nearest cells and the
    // probe scan over their members
    s"""${lloydChain(R)},
       |${lloydAssign(probe)},
       |qcells AS (SELECT cell FROM sims$probe WHERE vec_id = 0
       |           ORDER BY csim DESC, cell LIMIT ${Vectors.NProbe}),
       |qv AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0)
       |SELECT a.vec_id, a.cell,
       |  ROUND(
       |    list_sum(list_transform(range(1, CAST(len(a.embedding) AS INTEGER) + 1),
       |      i -> CAST(a.embedding[i] AS DOUBLE) * CAST(q.qvec[i] AS DOUBLE)))
       |    / (sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
       |     * sqrt(list_sum(list_transform(q.qvec, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 4) AS sim
       |FROM a$probe a JOIN qcells USING (cell), qv q
       |WHERE a.vec_id <> 0
       |ORDER BY sim DESC, vec_id
       |LIMIT 10""".stripMargin
  }

  /** q90 oracle: the trained chain + final assignment (the q56 mirror),
    * then EVERY vector's NProbe nearest cells (row_number per vec_id with
    * the one (csim DESC, cell) tie-break), the cell-join probe scan, and
    * the per-src top-KnnK rank on the ROUND-4 cosine — the q77 ranking
    * discipline pointed at IVF candidates. Cosines in the ranking fold
    * sequentially (list_reduce) like the assignment sims, so the ROUND-4
    * operand is bit-identical to Spark's aggregate() fold. */
  private def ivfKnnCtes(memberCond: String = "") = {
    val R = Vectors.LloydRounds
    val probe = R + 1
    s"""${lloydChain(R)},
       |${lloydAssign(probe)},
       |probes AS (SELECT vec_id AS src, embedding AS emb_a, cell FROM (
       |    SELECT vec_id, embedding, cell,
       |           row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, cell) AS rn
       |    FROM sims$probe) WHERE rn <= ${Vectors.NProbe}),
       |cand AS (SELECT p.src, a.vec_id AS dst,
       |    ROUND(
       |      list_reduce(list_transform(range(1, CAST(len(p.emb_a) AS INTEGER) + 1),
       |        j -> CAST(p.emb_a[j] AS DOUBLE) * CAST(a.embedding[j] AS DOUBLE)), (x, y) -> x + y)
       |      / (sqrt(list_reduce(list_transform(p.emb_a, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (x, y) -> x + y))
       |       * sqrt(list_reduce(list_transform(a.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (x, y) -> x + y))), 4) AS sim
       |  FROM probes p JOIN a$probe a USING (cell)
       |  WHERE a.vec_id <> p.src$memberCond),
       |r AS (SELECT src, dst, sim,
       |        CAST(row_number() OVER (PARTITION BY src ORDER BY sim DESC, dst) AS INTEGER) AS rk
       |      FROM cand)""".stripMargin
  }

  private val ivfKnnSql =
    s"""${ivfKnnCtes()}
       |SELECT src, rk, dst, sim
       |FROM r WHERE rk <= ${Vectors.KnnK}
       |ORDER BY src, rk""".stripMargin

  /** q143 oracle: the q90 chain with the member predicate applied inside
    * the candidate CTE — the oracle's declarative mirror of prune-then-rank
    * (an IN-subquery on the label-filtered scan; DuckDB plans it as a semi
    * join before the ranking window, same shape as the engine). */
  private val ivfKnnFilteredSql =
    s"""${ivfKnnCtes(" AND a.vec_id IN (SELECT vec_id FROM embeddings" +
         s" WHERE label IN (${Vectors.FilterLabels.mkString(", ")}))")}
       |SELECT src, rk, dst, sim
       |FROM r WHERE rk <= ${Vectors.KnnK}
       |ORDER BY src, rk""".stripMargin

  /** q158 oracle: the q90 chain with the QUERY-RELATIVE label exclusion
    * inside the candidate CTE (correlated scalar lookups DuckDB
    * decorrelates into joins) — the declarative mirror of
    * filter-before-rank. */
  private val hardNegativesSql =
    s"""${ivfKnnCtes(" AND (SELECT label FROM embeddings e1 WHERE e1.vec_id = a.vec_id)" +
         " <> (SELECT label FROM embeddings e2 WHERE e2.vec_id = p.src)")}
       |SELECT src, rk, dst, sim
       |FROM r WHERE rk <= ${Vectors.KnnK}
       |ORDER BY src, rk""".stripMargin

  /** q146/q147 oracle: the q90 trained chain with the TUNED subcode
    * multi-probe unrolled (Vectors.ivfKnn at the declared
    * TunedSubBits). The subcode is the sign pattern of the first subBits
    * hyperplane projections (graft.ops.Ann.weights rendered as literal
    * lists — the annBucketCols/jlSql discipline, sequential-double
    * list_reduce matching Spark's 0.0-seeded dot_fold, so every sign bit
    * and |projection| comparison is bit-identical); the probe explodes
    * each query's exact code plus the single least-confident bit flip
    * (argmin |projection|, ties to the lower plane index — a first-match
    * CASE mirroring the engine's array_sort-struct tie-break); members
    * join on (cell, code); ranking is the q90 discipline (ROUND-4
    * fold-parity cosine, (sim DESC, dst) row_number). `memberCond`
    * references the member alias `m` (the q147 predicate prune). */
  private def ivfKnnTunedCtes(subBits: Int, memberCond: String = ""): String = {
    import graft.ops.Ann.{Dim, weights}
    require(subBits >= 1 && subBits <= 16, s"subBits=$subBits")
    val R = Vectors.LloydRounds
    val probe = R + 1
    def proj(p: Int): String = {
      val w = weights(p).mkString("[", ",", "]")
      s"""list_reduce(list_transform(generate_series(1, $Dim),
         |      i -> CAST(embedding[CAST(i AS INTEGER)] AS DOUBLE) * CAST(($w)[CAST(i AS INTEGER)] AS DOUBLE)),
         |      (a, b) -> a + b)""".stripMargin
    }
    val projCols = (0 until subBits).map(j => s"${proj(j)} AS pj$j").mkString(",\n    ")
    val codeExpr = (0 until subBits)
      .map(j => s"CASE WHEN pj$j > 0 THEN ${1L << j}::BIGINT ELSE 0::BIGINT END")
      .mkString(" + ")
    // lexicographic argmin over (|pj_j|, j): branch j fires iff |pj_j| <=
    // every LATER |pj_i| — if j is the argmin its branch condition holds,
    // and every earlier branch j' has |pj_j'| > |pj_j| with j > j', so it
    // fails; ties therefore resolve to the lower plane index, exactly the
    // engine's array_sort-struct order
    val flipExpr =
      if (subBits == 1) "0"
      else (0 until subBits - 1).map { j =>
        val conds = (j + 1 until subBits).map(i => s"abs(pj$j) <= abs(pj$i)").mkString(" AND ")
        s"WHEN $conds THEN $j"
      }.mkString("CASE ", " ", s" ELSE ${subBits - 1} END")
    s"""${lloydChain(R)},
       |${lloydAssign(probe)},
       |pr AS (SELECT vec_id, embedding, cell FROM (
       |    SELECT vec_id, embedding, cell,
       |           row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, cell) AS rn
       |    FROM sims$probe) WHERE rn <= ${Vectors.NProbe}),
       |pp AS (SELECT vec_id, embedding, cell,
       |    $projCols
       |  FROM pr),
       |pc AS (SELECT vec_id AS src, embedding AS emb_a, cell,
       |    CAST($codeExpr AS BIGINT) AS code0,
       |    $flipExpr AS flip
       |  FROM pp),
       |pcode AS (SELECT src, emb_a, cell,
       |    unnest([code0, xor(code0, CAST(1 AS BIGINT) << flip)]) AS code
       |  FROM pc),
       |mm AS (SELECT vec_id, embedding, cell,
       |    $projCols
       |  FROM a$probe),
       |mem AS (SELECT vec_id AS dst, embedding AS emb_b, cell,
       |    CAST($codeExpr AS BIGINT) AS code
       |  FROM mm),
       |cand AS (SELECT p.src, m.dst,
       |    ROUND(
       |      list_reduce(list_transform(range(1, CAST(len(p.emb_a) AS INTEGER) + 1),
       |        j -> CAST(p.emb_a[j] AS DOUBLE) * CAST(m.emb_b[j] AS DOUBLE)), (x, y) -> x + y)
       |      / (sqrt(list_reduce(list_transform(p.emb_a, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (x, y) -> x + y))
       |       * sqrt(list_reduce(list_transform(m.emb_b, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (x, y) -> x + y))), 4) AS sim
       |  FROM pcode p JOIN mem m USING (cell, code)
       |  WHERE m.dst <> p.src$memberCond),
       |dd AS (SELECT src, dst, MAX(sim) AS sim FROM cand GROUP BY src, dst),
       |r AS (SELECT src, dst, sim,
       |        CAST(row_number() OVER (PARTITION BY src ORDER BY sim DESC, dst) AS INTEGER) AS rk
       |      FROM dd)""".stripMargin
  }

  private val ivfKnnTunedSql =
    s"""${ivfKnnTunedCtes(Vectors.TunedSubBits)}
       |SELECT src, rk, dst, sim
       |FROM r WHERE rk <= ${Vectors.KnnK}
       |ORDER BY src, rk""".stripMargin

  private val ivfKnnFilteredTunedSql =
    s"""${ivfKnnTunedCtes(Vectors.TunedSubBits,
         " AND m.dst IN (SELECT vec_id FROM embeddings" +
         s" WHERE label IN (${Vectors.FilterLabels.mkString(", ")}))")}
       |SELECT src, rk, dst, sim
       |FROM r WHERE rk <= ${Vectors.KnnK}
       |ORDER BY src, rk""".stripMargin

  /** q181 oracle: the q146 tuned chain with q158's QUERY-RELATIVE label
    * exclusion inside the candidate CTE (correlated scalar lookups DuckDB
    * decorrelates into joins) — filter-before-rank at the tuned point. */
  private val hardNegativesTunedSql =
    s"""${ivfKnnTunedCtes(Vectors.TunedSubBits,
         " AND (SELECT label FROM embeddings e1 WHERE e1.vec_id = m.dst)" +
         " <> (SELECT label FROM embeddings e2 WHERE e2.vec_id = p.src)")}
       |SELECT src, rk, dst, sim
       |FROM r WHERE rk <= ${Vectors.KnnK}
       |ORDER BY src, rk""".stripMargin

  val all: Map[String, String] = Map(

    "q54_doc_chunking"  -> chunkSql,
    "q55_ivf_centroids" -> centroidSql,
    "q56_ivf_probe"     -> ivfProbeSql,
    "q90_ivf_knn"       -> ivfKnnSql,
    "q143_filtered_ann" -> ivfKnnFilteredSql,
    "q146_ivf_tuned"    -> ivfKnnTunedSql,
    "q147_filtered_tuned_ann" -> ivfKnnFilteredTunedSql,
    "q112_pq_adc"       -> pqSql,
    "q148_hybrid_rrf"   -> hybridRrfSql,
    "q149_zorder_layout" -> zorderSql,
    "q150_compaction_plan" -> compactionSql,
    "q151_seasonal_baseline" -> seasonalSql,
    "q152_snapshot_diff"     -> snapshotDiffSql,
    "q153_transition_matrix" -> transitionSql,
    "q154_attribution"       -> attributionSql,
    "q155_time_weighted_avg" -> twapSql,
    "q156_rfm_segments"      -> rfmSql,
    "q157_position_attribution" -> positionAttributionSql,
    "q158_hard_negatives"    -> hardNegativesSql,
    "q181_hard_negatives_tuned" -> hardNegativesTunedSql,
    "q182_winsorized_stats"  -> winsorizedSql,
    "q183_mmr_rerank"        -> mmrSql,
    "q184_bootstrap_ci"      -> bootstrapSql,
    "q185_decayed_engagement" -> decayedSql,
    "q186_mmr_tuned"         -> mmrTunedSql,
    "q187_bootstrap_bucketed" -> bootstrapBucketedSql,
    "q188_median_mad"        -> madSql,
    "q189_theilsen_trend"    -> theilSenSql,
    "q190_kendall_tau"       -> kendallSql,
    "q191_mann_kendall"      -> mannKendallSql,
    "q159_ohlc_bars"         -> ohlcSql,
    "q160_basket_pairs"      -> basketSql,
    "q161_calendar_fill"     -> calendarFillSql,
    "q162_mad_outliers"      -> madOutliersSql,
    "q163_skyline"           -> skylineSql,
    "q164_survival_hazard"   -> survivalSql,
    "q165_ab_chisq"          -> abChisqSql,
    "q166_cusum_changepoint" -> cusumSql,
    "q167_holt_trend"        -> holtSql,
    "q168_iqr_outliers"      -> iqrSql,
    "q169_conversion_latency" -> conversionLatencySql,
    "q170_ship_lag_quantiles" -> shipLagSql,
    "q171_type_correlation"  -> typeCorrSql,
    "q172_traffic_drawdown"  -> drawdownSql,
    "q173_revenue_gini"      -> giniSql,
    "q174_revenue_deciles"   -> revenueDecilesSql,
    "q175_truncation_recall" -> truncationRecallSql,
    "q176_frame_sampling"    -> frameSampleSql,
    "q177_lag_correlation"   -> lagCorrSql,
    "q178_session_flow"      -> sessionFlowSql,
    "q179_value_bands"       -> valueBandsSql,
    "q180_equidepth_stats"   -> equiDepthSql,

    "q01_scan_filter_project" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_discount,
        |       l_extendedprice * l_discount AS revenue
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
        |  AND l_discount >= 0.05 AND l_discount <= 0.07 AND l_quantity < 24
        |ORDER BY l_orderkey, l_linenumber
        |LIMIT 100""".stripMargin,

    "q02_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_base_price,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS sum_disc_price,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2))) * (CAST(1 AS DECIMAL(3,2)) + CAST(l_tax AS DECIMAL(4,2)))) AS DOUBLE) AS sum_charge,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*) AS avg_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*) AS avg_price,
        |  CAST(SUM(CAST(l_discount AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*) AS avg_disc,
        |  COUNT(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q03_join_inner" ->
      """SELECT c_mktsegment, COUNT(*) AS n_orders,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment
        |ORDER BY c_mktsegment""".stripMargin,

    "q04_join_broadcast" ->
      """SELECT r_name, n_name, COUNT(*) AS n_customers,
        |       CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS sum_acctbal
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name
        |ORDER BY r_name, n_name""".stripMargin,

    "q05_join_left_outer" ->
      """SELECT c_custkey, c_name, COUNT(o_orderkey) AS n_orders
        |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_custkey, c_name
        |ORDER BY c_custkey
        |LIMIT 200""".stripMargin,

    "q06_join_semi" ->
      """SELECT c_custkey, c_name, c_acctbal
        |FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
        |ORDER BY c_custkey""".stripMargin,

    "q07_join_anti" ->
      """SELECT c_custkey, c_name, c_acctbal
        |FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
        |ORDER BY c_custkey""".stripMargin,

    "q08_join_theta" ->
      """SELECT s_suppkey, c_custkey, s_acctbal, c_acctbal
        |FROM supplier s JOIN customer c
        |  ON s.s_nationkey = c.c_nationkey AND s.s_acctbal < c.c_acctbal
        |ORDER BY s_suppkey, c_custkey""".stripMargin,

    "q09_join_asof" ->
      (eventsCte +
      """,
        |p AS (SELECT event_id, user_id, ts FROM e WHERE event_type = 'purchase'),
        |c AS (SELECT user_id, ts FROM e WHERE event_type = 'click')
        |SELECT p.event_id, p.user_id, p.ts AS purchase_ts, max(c.ts) AS click_ts
        |FROM p LEFT JOIN c ON c.user_id = p.user_id AND c.ts < p.ts
        |GROUP BY p.event_id, p.user_id, p.ts
        |ORDER BY p.event_id""".stripMargin),

    "q10_agg_distinct" ->
      """SELECT event_type, COUNT(DISTINCT user_id) AS n_users
        |FROM events
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,

    "q11_agg_rollup" ->
      """SELECT CAST(GROUPING(l_returnflag) AS INTEGER) AS g_flag,
        |       CAST(GROUPING(l_linestatus) AS INTEGER) AS g_status,
        |       l_returnflag, l_linestatus, COUNT(*) AS n,
        |       CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
        |FROM lineitem
        |GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |HAVING COUNT(*) > 0 -- mirror Spark: no grand-total row on EMPTY input (every
        |                    -- real group has n >= 1, so this never fires on data)
        |ORDER BY g_flag, g_status, l_returnflag, l_linestatus""".stripMargin,

    "q110_grouping_sets" ->
      """SELECT CAST(GROUPING(l_returnflag) AS INTEGER) AS g_flag,
        |       CAST(GROUPING(l_linestatus) AS INTEGER) AS g_status,
        |       l_returnflag, l_linestatus, COUNT(*) AS n,
        |       CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        |HAVING COUNT(*) > 0 -- mirror Spark's empty-input GROUPING SETS (see q11)
        |ORDER BY g_flag, g_status, l_returnflag, l_linestatus""".stripMargin,

    // q113: change-rows then interval close — LAG detects the status
    // change, the filtered set takes LEAD(ts) as valid_to (NULL = open
    // interval). Both windows share the (user_id; ts, event_id) order.
    "q113_scd2_history" ->
      (eventsCte +
      """,
        |m AS (SELECT user_id, event_id, event_type AS status, ts,
        |             LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_status
        |      FROM e),
        |c AS (SELECT user_id, event_id, status, ts FROM m
        |      WHERE prev_status IS NULL OR prev_status <> status)
        |SELECT user_id, event_id, status, ts AS valid_from,
        |       LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to
        |FROM c
        |ORDER BY user_id, valid_from, event_id""".stripMargin),

    // q115: explicit ON + COALESCE key (not USING) so the full-outer key
    // coalescing is spelled out identically in both engines; counts
    // coalesce to 0, purchase_value stays NULL for click-only users
    // (R10's NULL-for-absent discipline, mirrored in the engine).
    "q115_join_full_outer" ->
      (eventsCte +
      """,
        |c AS (SELECT user_id, COUNT(*) AS n_clicks FROM e
        |      WHERE event_type = 'click' GROUP BY user_id),
        |p AS (SELECT user_id, COUNT(*) AS n_purchases,
        |             CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS purchase_value
        |      FROM e WHERE event_type = 'purchase' GROUP BY user_id)
        |SELECT COALESCE(c.user_id, p.user_id) AS user_id,
        |       CASE WHEN c.user_id IS NULL THEN 'purchase_only'
        |            WHEN p.user_id IS NULL THEN 'click_only'
        |            ELSE 'both' END AS presence,
        |       COALESCE(c.n_clicks, 0) AS n_clicks,
        |       COALESCE(p.n_purchases, 0) AS n_purchases,
        |       p.purchase_value
        |FROM c FULL OUTER JOIN p ON c.user_id = p.user_id
        |ORDER BY user_id""".stripMargin),

    // q116: revenue follows q02's cast-raw-columns-to-DECIMAL-first
    // discipline; the decimal-exact revenue makes (revenue DESC,
    // o_orderkey) a deterministic cross-engine sort for the top 10.
    "q116_shipping_priority" ->
      """SELECT o.o_orderkey, o.o_orderdate, o.o_orderpriority,
        |  CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2)) *
        |           (CAST(1 AS DECIMAL(3,2)) - CAST(l.l_discount AS DECIMAL(4,2))))
        |       AS DOUBLE) AS revenue
        |FROM lineitem l
        |JOIN orders o ON l.l_orderkey = o.o_orderkey
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |WHERE c.c_mktsegment = 'BUILDING'
        |  AND o.o_orderdate < TIMESTAMP '1998-07-01'
        |  AND l.l_shipdate > TIMESTAMP '1998-07-01'
        |GROUP BY o.o_orderkey, o.o_orderdate, o.o_orderpriority
        |ORDER BY revenue DESC, o.o_orderkey
        |LIMIT 10""".stripMargin,

    // q117: the same-nation correlation rides the equi-joins; revenue is
    // q02's decimal discipline so the DESC sort is deterministic.
    "q117_local_supplier_volume" ->
      """SELECT n.n_name,
        |  CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2)) *
        |           (CAST(1 AS DECIMAL(3,2)) - CAST(l.l_discount AS DECIMAL(4,2))))
        |       AS DOUBLE) AS revenue
        |FROM customer c
        |JOIN orders o   ON o.o_custkey = c.c_custkey
        |JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        |JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |               AND c.c_nationkey = s.s_nationkey
        |JOIN nation n   ON s.s_nationkey = n.n_nationkey
        |JOIN region r   ON n.n_regionkey = r.r_regionkey
        |WHERE r.r_name = 'ASIA'
        |  AND o.o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o.o_orderdate <  TIMESTAMP '1997-01-01'
        |GROUP BY n.n_name
        |ORDER BY revenue DESC, n.n_name""".stripMargin,

    // q118: the disjunctive nation-pair predicate is spelled as the
    // two-element IN on each side plus the cross-pair residual — the
    // decomposed form the engine pushes; the disjunction it equals is
    // noted in Relational.q118's scaladoc. year() mirrors Spark's INT.
    "q118_volume_shipping" ->
      """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |  CAST(year(l.l_shipdate) AS INTEGER) AS l_year,
        |  CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2)) *
        |           (CAST(1 AS DECIMAL(3,2)) - CAST(l.l_discount AS DECIMAL(4,2))))
        |       AS DOUBLE) AS revenue
        |FROM lineitem l
        |JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |JOIN orders o   ON l.l_orderkey = o.o_orderkey
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |JOIN nation n1  ON s.s_nationkey = n1.n_nationkey
        |JOIN nation n2  ON c.c_nationkey = n2.n_nationkey
        |WHERE n1.n_name IN ('NATION_12', 'NATION_10')
        |  AND n2.n_name IN ('NATION_12', 'NATION_10')
        |  AND n1.n_name <> n2.n_name
        |  AND l.l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l.l_shipdate <  TIMESTAMP '1998-01-01'
        |GROUP BY 1, 2, 3
        |ORDER BY supp_nation, cust_nation, l_year""".stripMargin,

    // q119: revenue is q02's decimal discipline, aggregated per customer
    // BEFORE the dim attachment (the engine's custkey-cardinality join);
    // the flat-join spelling here is the same relation.
    "q119_returned_items" ->
      """SELECT c.c_custkey, c.c_name, c.c_acctbal, n.n_name,
        |  CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2)) *
        |           (CAST(1 AS DECIMAL(3,2)) - CAST(l.l_discount AS DECIMAL(4,2))))
        |       AS DOUBLE) AS revenue
        |FROM lineitem l
        |JOIN orders o   ON l.l_orderkey = o.o_orderkey
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |JOIN nation n   ON c.c_nationkey = n.n_nationkey
        |WHERE l.l_returnflag = 'R'
        |  AND o.o_orderdate >= TIMESTAMP '1997-01-01'
        |  AND o.o_orderdate <  TIMESTAMP '1997-04-01'
        |GROUP BY c.c_custkey, c.c_name, c.c_acctbal, n.n_name
        |ORDER BY revenue DESC, c.c_custkey
        |LIMIT 20""".stripMargin,

    // q120: the HAVING-subquery spelled as aggregate-then-join — the
    // same relation as "orderkey IN (… HAVING SUM(qty) > 200)" with the
    // per-order total carried through instead of recomputed.
    "q120_large_volume_customers" ->
      """WITH big AS (
        |  SELECT l_orderkey,
        |         CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS total_qty
        |  FROM lineitem
        |  GROUP BY l_orderkey
        |  HAVING CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) > 200.0)
        |SELECT c.c_custkey, c.c_name, o.o_orderkey, o.o_orderdate,
        |       o.o_totalprice, big.total_qty
        |FROM big
        |JOIN orders o   ON big.l_orderkey = o.o_orderkey
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |ORDER BY o.o_totalprice DESC, o.o_orderkey
        |LIMIT 100""".stripMargin,

    // q121: NOT IN over the non-nullable s_suppkey == the engine's
    // left-anti join; COUNT(DISTINCT) is exact in both engines.
    "q121_supplier_diversity" ->
      """SELECT p.p_brand, p.p_size, COUNT(DISTINCT l.l_suppkey) AS supplier_cnt
        |FROM lineitem l
        |JOIN part p ON l.l_partkey = p.p_partkey
        |WHERE p.p_size IN (1, 4, 7)
        |  AND l.l_suppkey NOT IN
        |      (SELECT s_suppkey FROM supplier WHERE s_acctbal < 2000.0)
        |GROUP BY p.p_brand, p.p_size
        |ORDER BY supplier_cnt DESC, p_brand, p_size""".stripMargin,

    // q122: the grand total is the exact DECIMAL sum cast to double —
    // NOT a double-sum of the brand doubles (order-sensitive); share is
    // then one IEEE division of identical operands in both engines.
    "q122_value_concentration" ->
      """WITH branded AS (
        |  SELECT p.p_brand,
        |         CAST(l.l_extendedprice AS DECIMAL(12,2)) *
        |         (CAST(1 AS DECIMAL(3,2)) - CAST(l.l_discount AS DECIMAL(4,2))) AS rev
        |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey),
        |per_brand AS (SELECT p_brand, SUM(rev) AS drev FROM branded GROUP BY 1),
        |total AS (SELECT CAST(SUM(rev) AS DOUBLE) AS total_revenue FROM branded)
        |SELECT p_brand, CAST(drev AS DOUBLE) AS revenue,
        |       CAST(drev AS DOUBLE) / total_revenue AS share
        |FROM per_brand, total
        |WHERE CAST(drev AS DOUBLE) / total_revenue > 0.041
        |ORDER BY revenue DESC, p_brand""".stripMargin,

    // q123: the max-equality compares DECIMALS (exact); only the output
    // casts to double, so ties survive identically in both engines.
    "q123_top_supplier" ->
      """WITH srev AS (
        |  SELECT l_suppkey,
        |         SUM(CAST(l_extendedprice AS DECIMAL(12,2)) *
        |             (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS drev
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        |    AND l_shipdate <  TIMESTAMP '1997-04-01'
        |  GROUP BY l_suppkey)
        |SELECT s.s_suppkey, s.s_name, s.s_acctbal,
        |       CAST(srev.drev AS DOUBLE) AS total_revenue
        |FROM srev JOIN supplier s ON srev.l_suppkey = s.s_suppkey
        |WHERE srev.drev = (SELECT MAX(drev) FROM srev)
        |ORDER BY s.s_suppkey""".stripMargin,

    // q124: the global average is the exact-decimal-sum / count division
    // (davg's mirror); NOT EXISTS over the cutoff-filtered orders is the
    // engine's left-anti with the date filter pushed to the scan.
    "q124_dormant_capital" ->
      """WITH avg_bal AS (
        |  SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*) AS avg_bal
        |  FROM customer WHERE c_acctbal > 0.0)
        |SELECT n.n_name, COUNT(*) AS n_dormant,
        |       CAST(SUM(CAST(c.c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS total_balance
        |FROM customer c
        |JOIN nation n ON c.c_nationkey = n.n_nationkey
        |CROSS JOIN avg_bal
        |WHERE c.c_acctbal > avg_bal.avg_bal
        |  AND NOT EXISTS (SELECT 1 FROM orders o
        |                  WHERE o.o_custkey = c.c_custkey
        |                    AND o.o_orderdate >= TIMESTAMP '1999-01-01')
        |GROUP BY n.n_name
        |ORDER BY n.n_name""".stripMargin,

    // q125: EXISTS == the engine's left-semi; lateness is defined
    // against o_orderdate (no commit/receipt dates in the schema) and
    // rides the orderkey equi-join; counts are exact.
    "q125_order_priority_check" ->
      """SELECT o.o_orderpriority, COUNT(*) AS order_count
        |FROM orders o
        |WHERE o.o_orderdate >= TIMESTAMP '1997-01-01'
        |  AND o.o_orderdate <  TIMESTAMP '1997-04-01'
        |  AND EXISTS (SELECT 1 FROM lineitem l
        |              WHERE l.l_orderkey = o.o_orderkey
        |                AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
        |GROUP BY o.o_orderpriority
        |ORDER BY o.o_orderpriority""".stripMargin,

    // q126: numerator and denominator are decimal-exact conditional
    // sums over the SAME joined rows (NULL-skipping CASE mirrors the
    // engine's conditional SUM); the share is COALESCE(num,0)/den —
    // one IEEE division of identical operands.
    "q126_market_share" ->
      """SELECT CAST(year(o.o_orderdate) AS INT) AS o_year,
        |  COALESCE(CAST(SUM(CASE WHEN n2.n_name = 'NATION_7' THEN
        |      CAST(l.l_extendedprice AS DECIMAL(12,2)) *
        |      (CAST(1 AS DECIMAL(3,2)) - CAST(l.l_discount AS DECIMAL(4,2))) END)
        |    AS DOUBLE), 0.0) /
        |  CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2)) *
        |           (CAST(1 AS DECIMAL(3,2)) - CAST(l.l_discount AS DECIMAL(4,2))))
        |    AS DOUBLE) AS mkt_share
        |FROM lineitem l
        |JOIN part p     ON l.l_partkey = p.p_partkey AND p.p_type = 'STANDARD'
        |JOIN orders o   ON l.l_orderkey = o.o_orderkey
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |JOIN nation n   ON c.c_nationkey = n.n_nationkey
        |JOIN region r   ON n.n_regionkey = r.r_regionkey AND r.r_name = 'EUROPE'
        |JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |JOIN nation n2  ON s.s_nationkey = n2.n_nationkey
        |GROUP BY 1
        |ORDER BY 1""".stripMargin,

    // q127: the LEFT JOIN keeps never-ordered customers (c_count = 0 —
    // COUNT of a NULL column); both aggregation levels are exact
    // integer counts, so the double-DESC sort is deterministic.
    "q127_customer_distribution" ->
      """SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
        |FROM (SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
        |      FROM customer c
        |      LEFT JOIN orders o ON c.c_custkey = o.o_custkey
        |      GROUP BY c.c_custkey)
        |GROUP BY c_count
        |ORDER BY custdist DESC, c_count DESC""".stripMargin,

    // q128: 100 × (num ÷ den) with the multiply OUTSIDE the division in
    // both texts — float × and ÷ do not reassociate, so the expression
    // trees must match shape.
    "q128_promo_revenue" ->
      """SELECT 100.0 * (
        |  COALESCE(CAST(SUM(CASE WHEN p.p_type = 'PROMO' THEN
        |      CAST(l.l_extendedprice AS DECIMAL(12,2)) *
        |      (CAST(1 AS DECIMAL(3,2)) - CAST(l.l_discount AS DECIMAL(4,2))) END)
        |    AS DOUBLE), 0.0) /
        |  CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2)) *
        |           (CAST(1 AS DECIMAL(3,2)) - CAST(l.l_discount AS DECIMAL(4,2))))
        |    AS DOUBLE)) AS promo_revenue
        |FROM lineitem l
        |JOIN part p ON l.l_partkey = p.p_partkey
        |WHERE l.l_shipdate >= TIMESTAMP '1997-06-01'
        |  AND l.l_shipdate <  TIMESTAMP '1997-07-01'""".stripMargin,

    // q129: the correlated 20%-of-average is decorrelated into the same
    // per-part aggregate join the engine plans; avg is decimal-exact
    // sum / exact count (identical double both sides), so the boundary
    // compare agrees row for row.
    "q129_small_qty_revenue" ->
      """WITH pl AS (
        |  SELECT l.l_partkey AS p_partkey, l.l_quantity, l.l_extendedprice
        |  FROM lineitem l
        |  JOIN part p ON l.l_partkey = p.p_partkey AND p.p_brand = 'Brand#13'),
        |pa AS (
        |  SELECT p_partkey AS pk,
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*) AS avg_qty
        |  FROM pl GROUP BY 1)
        |SELECT CAST(SUM(CAST(pl.l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / 7.0
        |  AS avg_yearly
        |FROM pl JOIN pa ON pl.p_partkey = pa.pk
        |WHERE pl.l_quantity < 0.2 * pa.avg_qty""".stripMargin,

    // q130: the DISTINCT (orderkey, suppkey) candidate subquery pins
    // "each order counts once per supplier"; EXISTS/NOT EXISTS mirror
    // the engine's left-semi/left-anti with the different-supplier
    // predicates riding the orderkey key; lateness is q125's
    // o_orderdate + 60 days definition.
    "q130_waiting_suppliers" ->
      """WITH late AS (
        |  SELECT DISTINCT l.l_orderkey, l.l_suppkey
        |  FROM lineitem l
        |  JOIN orders o ON l.l_orderkey = o.o_orderkey
        |  WHERE o.o_orderstatus = 'F'
        |    AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
        |SELECT s.s_name, COUNT(*) AS numwait
        |FROM late l1
        |JOIN supplier s ON l1.l_suppkey = s.s_suppkey
        |JOIN nation n   ON s.s_nationkey = n.n_nationkey
        |JOIN region r   ON n.n_regionkey = r.r_regionkey AND r.r_name = 'ASIA'
        |WHERE EXISTS (SELECT 1 FROM lineitem l2
        |              WHERE l2.l_orderkey = l1.l_orderkey
        |                AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM late l3
        |                  WHERE l3.l_orderkey = l1.l_orderkey
        |                    AND l3.l_suppkey <> l1.l_suppkey)
        |GROUP BY s.s_name
        |ORDER BY numwait DESC, s.s_name
        |LIMIT 10""".stripMargin,

    // q137: the disjunction is written verbatim — DuckDB evaluates it
    // post-join like the engine's broadcast-join condition; the decimal
    // revenue term is q02's discipline, summed exactly and cast once.
    "q137_disjunctive_revenue" ->
      """SELECT
        |  CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2)) *
        |    (CAST(1 AS DECIMAL(3,2)) - CAST(l.l_discount AS DECIMAL(4,2))))
        |    AS DOUBLE) AS revenue,
        |  COUNT(*) AS n_lines
        |FROM lineitem l
        |JOIN part p ON l.l_partkey = p.p_partkey
        |WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 15
        |         AND l.l_quantity BETWEEN 1 AND 21)
        |   OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 25
        |         AND l.l_quantity BETWEEN 10 AND 30)
        |   OR (p.p_brand = 'Brand#34' AND p.p_size BETWEEN 1 AND 35
        |         AND l.l_quantity BETWEEN 20 AND 40)""".stripMargin,

    // q138: every money term is exact decimal from raw columns (the
    // integral quantity's DECIMAL(4,0) cast has no tie); one exact SUM,
    // one cast to double — identical rational, identical double. DuckDB
    // year() returns BIGINT → cast to INT to match Spark's year().
    "q138_product_profit" ->
      """SELECT n.n_name AS nation, CAST(year(o.o_orderdate) AS INT) AS o_year,
        |  CAST(SUM(
        |    CAST(l.l_extendedprice AS DECIMAL(12,2)) *
        |      (CAST(1 AS DECIMAL(3,2)) - CAST(l.l_discount AS DECIMAL(4,2)))
        |    - CAST(p.p_retailprice AS DECIMAL(12,2)) * CAST(0.6 AS DECIMAL(2,1))
        |        * CAST(l.l_quantity AS DECIMAL(4,0))
        |  ) AS DOUBLE) AS profit
        |FROM lineitem l
        |JOIN part p     ON l.l_partkey = p.p_partkey
        |                AND p.p_name LIKE '%widget%'
        |JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |JOIN nation n   ON s.s_nationkey = n.n_nationkey
        |JOIN orders o   ON l.l_orderkey = o.o_orderkey
        |GROUP BY 1, 2
        |ORDER BY nation, o_year DESC""".stripMargin,

    // q139: pure integer CASE counts over the same DATE arithmetic as
    // q125/q130 (interval-day add is exact on both engines); DuckDB
    // SUM(int) returns HUGEINT → cast to BIGINT.
    "q139_shipping_lag_pivot" ->
      """SELECT o.o_orderpriority,
        |  CAST(SUM(CASE WHEN l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
        |                THEN 1 ELSE 0 END) AS BIGINT) AS late_lines,
        |  CAST(SUM(CASE WHEN l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
        |                THEN 0 ELSE 1 END) AS BIGINT) AS ontime_lines
        |FROM lineitem l
        |JOIN orders o ON l.l_orderkey = o.o_orderkey
        |GROUP BY 1
        |ORDER BY o_orderpriority""".stripMargin,

    // q144: Q20's nested semi-join chain — the inner grouped HAVING uses
    // the engine's dsum discipline (exact DECIMAL sum cast to double, one
    // IEEE compare) so the surviving supplier set is identical cross-engine
    "q144_bulk_part_suppliers" ->
      """WITH sp AS (SELECT p_partkey FROM part WHERE p_name LIKE '%ol%'),
        |bulk AS (
        |  SELECT l_suppkey FROM lineitem l JOIN sp ON l.l_partkey = sp.p_partkey
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |    AND l_shipdate <  TIMESTAMP '1997-01-01'
        |  GROUP BY l_suppkey, l_partkey
        |  HAVING CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) > 60.0)
        |SELECT s_suppkey, s_name, n_name AS nation
        |FROM supplier s JOIN nation n ON s.s_nationkey = n.n_nationkey
        |WHERE s_suppkey IN (SELECT l_suppkey FROM bulk)
        |ORDER BY s_suppkey""".stripMargin,

    // q114: the ref_date scalar is a one-row CTE cross-joined onto the
    // promise stream (the engine's broadcast); DuckDB date subtraction
    // returns days as BIGINT directly — both sides do pure integer DATE
    // math so the buckets cannot drift by an ulp.
    "q114_bill_aging" ->
      (eventsCte +
      """,
        |p AS (SELECT user_id, value,
        |             CAST(ts + INTERVAL 30 DAY AS DATE) AS due_date
        |      FROM e WHERE event_type = 'purchase'),
        |r AS (SELECT CAST(MAX(ts) AS DATE) + 16 AS ref_date FROM e),
        |a AS (SELECT p.user_id, p.value, r.ref_date,
        |             CAST(r.ref_date - p.due_date AS BIGINT) AS age
        |      FROM p, r)
        |SELECT CASE WHEN age <= 0 THEN '0_current'
        |            WHEN age <= 7 THEN '1_past_1_7'
        |            WHEN age <= 14 THEN '2_past_8_14'
        |            WHEN age <= 30 THEN '3_past_15_30'
        |            ELSE '4_past_over_30' END AS bucket,
        |       COUNT(*) AS n_promises,
        |       COUNT(DISTINCT user_id) AS n_users,
        |       CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_due,
        |       MIN(age) AS min_age, MAX(age) AS max_age,
        |       MIN(ref_date) AS ref_date
        |FROM a
        |GROUP BY 1
        |ORDER BY bucket""".stripMargin),

    "q12_window_rank" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, rn, rnk, drnk FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS INTEGER) AS rn,
        |    CAST(RANK()       OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC) AS INTEGER) AS rnk,
        |    CAST(DENSE_RANK() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC) AS INTEGER) AS drnk
        |  FROM orders)
        |WHERE rn <= 3
        |ORDER BY o_custkey, rn""".stripMargin,

    "q13_window_analytic" ->
      (eventsCte +
      """
        |SELECT user_id, ts, event_id, value,
        |  LAG(value)  OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_value,
        |  LEAD(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_value,
        |  CAST(SUM(CAST(value AS DECIMAL(18,4))) OVER (
        |    PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_sum
        |FROM e
        |ORDER BY user_id, ts, event_id""".stripMargin),

    "q14_topk" ->
      """SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate
        |FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey
        |LIMIT 10""".stripMargin,

    // q142: the sweep is identical SQL — one global cumsum over the
    // (t, delta, event_id) order (DuckDB runs it single-node; the
    // engine's two-phase form is prefix-sum algebra, value-identical);
    // deltas are BIGINT so the running sum needs the HUGEINT cast,
    // and DuckDB date_trunc('month') is already a DATE.
    "q142_peak_concurrency" ->
      (eventsCte +
      """,
        |p AS (SELECT event_id, ts, ts + INTERVAL 30 DAY AS due_ts
        |      FROM e WHERE event_type = 'purchase'),
        |real AS (SELECT ts AS t, CAST(1 AS BIGINT) AS delta, event_id FROM p
        |      UNION ALL
        |      SELECT due_ts, CAST(-1 AS BIGINT), event_id FROM p),
        |s AS (SELECT CAST(unnest(generate_series(
        |          date_trunc('month', (SELECT min(t) FROM real)),
        |          date_trunc('month', (SELECT max(t) FROM real)),
        |          INTERVAL 1 MONTH)) AS TIMESTAMP) AS t,
        |        CAST(0 AS BIGINT) AS delta, CAST(-1 AS BIGINT) AS event_id),
        |b AS (SELECT * FROM real UNION ALL SELECT * FROM s),
        |c AS (SELECT t, delta, event_id,
        |        CAST(SUM(delta) OVER (ORDER BY t, delta, event_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |          AS BIGINT) AS active
        |      FROM b),
        |r AS (SELECT date_trunc('month', t) AS month, active, t,
        |        ROW_NUMBER() OVER (PARTITION BY date_trunc('month', t)
        |          ORDER BY active DESC, t, delta, event_id) AS rn
        |      FROM c)
        |SELECT month, active AS peak_active, t AS peak_ts
        |FROM r WHERE rn = 1
        |ORDER BY month""".stripMargin),

    // q141: pure integer gaps-and-islands — both row_numbers use the
    // same (ts, event_id) total order, so the island ids (and therefore
    // the runs) are identical across engines; the per-user winner is a
    // deterministic (run_len DESC, start_event_id) argmax.
    "q141_event_streaks" ->
      (eventsCte +
      """,
        |runs AS (
        |  SELECT user_id, event_type,
        |    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |      - ROW_NUMBER() OVER (PARTITION BY user_id, event_type
        |                           ORDER BY ts, event_id) AS island,
        |    event_id
        |  FROM e),
        |measured AS (
        |  SELECT user_id, event_type,
        |    CAST(COUNT(*) AS BIGINT) AS run_len,
        |    MIN(event_id) AS start_event_id
        |  FROM runs GROUP BY user_id, event_type, island),
        |ranked AS (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
        |    ORDER BY run_len DESC, start_event_id) AS rn
        |  FROM measured)
        |SELECT user_id, event_type, run_len, start_event_id
        |FROM ranked WHERE rn = 1
        |ORDER BY user_id""".stripMargin),

    // q140: the carried value is an untouched input column — no float
    // arithmetic anywhere; the (ts, event_id) frame is the same total
    // order q13 pins, so the fill is deterministic under ts ties.
    "q140_forward_fill" ->
      (eventsCte +
      """
        |SELECT event_id, user_id, event_type,
        |  last_value(CASE WHEN event_type = 'purchase' THEN value END
        |             IGNORE NULLS) OVER (
        |    PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS last_purchase_value
        |FROM e
        |ORDER BY event_id""".stripMargin),

    "q15_set_union" ->
      """SELECT user_id FROM events WHERE event_type = 'click'
        |UNION
        |SELECT user_id FROM events WHERE event_type = 'purchase'
        |ORDER BY user_id""".stripMargin,

    "q16_set_intersect" ->
      """SELECT user_id FROM events WHERE event_type = 'click'
        |INTERSECT
        |SELECT user_id FROM events WHERE event_type = 'purchase'
        |ORDER BY user_id""".stripMargin,

    "q17_set_except" ->
      """SELECT user_id FROM events WHERE event_type = 'click'
        |EXCEPT
        |SELECT user_id FROM events WHERE event_type = 'purchase'
        |ORDER BY user_id""".stripMargin,

    "q18_string_funcs" ->
      """SELECT p_partkey,
        |  upper(p_brand) AS brand_upper,
        |  substring(p_name, 1, 10) AS name10,
        |  p_brand || '#' || p_type AS brand_type,
        |  CAST(length(p_name) AS INTEGER) AS name_len,
        |  regexp_extract(p_type, '^(\w+)', 1) AS type_head
        |FROM part
        |WHERE p_name LIKE '%rod%'
        |ORDER BY p_partkey""".stripMargin,

    "q19_date_funcs" ->
      """SELECT o_orderkey,
        |  CAST(o_orderdate AS DATE) + 30 AS due_date,
        |  date_trunc('month', o_orderdate) AS month_start,
        |  CAST(year(o_orderdate) AS INTEGER) AS o_year,
        |  CAST(date_diff('day', CAST(o_orderdate AS DATE), CAST(o_orderdate AS DATE) + 30) AS INTEGER) AS days_to_due,
        |  strftime(CAST(o_orderdate AS DATE) + 30, '%Y-%m-%d') AS due_str
        |FROM orders
        |ORDER BY o_orderkey
        |LIMIT 500""".stripMargin,

    "q20_math_funcs" ->
      """WITH f AS (SELECT * FROM lineitem
        |           ORDER BY l_orderkey, l_linenumber, l_extendedprice, l_quantity, l_tax, l_discount
        |           LIMIT 1000)
        |SELECT l_orderkey, l_linenumber, l_extendedprice, l_quantity, l_tax, l_discount,
        |  CAST(ROUND(CAST(l_extendedprice AS DECIMAL(18,4)), 1) AS DOUBLE) AS price_round1,
        |  abs(l_quantity - 25.0) AS qty_dist25,
        |  CAST(floor(l_extendedprice) AS BIGINT) AS price_floor,
        |  CAST(ceil(l_extendedprice) AS BIGINT) AS price_ceil,
        |  l_orderkey % 7 AS okey_mod7,
        |  greatest(l_tax, l_discount) AS max_rate,
        |  least(l_tax, l_discount) AS min_rate
        |FROM f
        |ORDER BY l_orderkey, l_linenumber, l_extendedprice, l_quantity, l_tax, l_discount""".stripMargin,

    "q21_array_funcs" ->
      """SELECT vec_id,
        |  CAST(len(embedding) AS INTEGER) AS dim,
        |  ROUND(CAST(embedding[1] AS DOUBLE), 4) AS first_val,
        |  array_to_string(list_transform(embedding[1:4], x -> CAST(CAST(ROUND(CAST(x AS DOUBLE), 4) AS DECIMAL(18,4)) AS VARCHAR)), ',') AS head4,
        |  ROUND(sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 4) AS l2_norm
        |FROM embeddings
        |ORDER BY vec_id
        |LIMIT 100""".stripMargin,

    "q22_json_funcs" ->
      """WITH e AS (SELECT event_type, CAST(json_extract_string(props, '$.k') AS INTEGER) AS k FROM events)
        |SELECT event_type, COUNT(*) AS n, min(k) AS min_k, max(k) AS max_k,
        |       CAST(SUM(k) AS BIGINT) AS sum_k,
        |       CAST(SUM(k) AS DOUBLE) / COUNT(*) AS avg_k
        |FROM e WHERE k IS NOT NULL
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,

    "q23_window_tumbling" ->
      (eventsCte +
      """
        |SELECT date_trunc('hour', ts) AS win_start, event_type, COUNT(*) AS n,
        |       CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
        |FROM e
        |GROUP BY win_start, event_type
        |ORDER BY win_start, event_type""".stripMargin),

    "q24_window_sliding" ->
      (eventsCte +
      """,
        |w AS (
        |  SELECT time_bucket(INTERVAL '30 minutes', ts) AS win_start, value FROM e
        |  UNION ALL
        |  SELECT time_bucket(INTERVAL '30 minutes', ts) - INTERVAL '30 minutes', value FROM e)
        |SELECT win_start, win_start + INTERVAL '60 minutes' AS win_end, COUNT(*) AS n,
        |       CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
        |FROM w
        |GROUP BY win_start
        |ORDER BY win_start""".stripMargin),

    "q25_window_session" ->
      (eventsCte +
      """,
        |x AS (SELECT user_id, ts,
        |        CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
        |               OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) > INTERVAL '30 minutes'
        |             THEN 1 ELSE 0 END AS new_s
        |      FROM e),
        |y AS (SELECT user_id, ts,
        |        SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |      FROM x)
        |SELECT user_id, min(ts) AS session_start, max(ts) + INTERVAL '30 minutes' AS session_end,
        |       COUNT(*) AS n_events
        |FROM y
        |GROUP BY user_id, sid
        |ORDER BY user_id, session_start""".stripMargin),

    "q26_dedup" ->
      (eventsCte +
      """
        |SELECT user_id, event_type, ts, COUNT(*) AS n_copies
        |FROM e
        |GROUP BY user_id, event_type, ts
        |ORDER BY user_id, event_type, ts""".stripMargin),

    "q27_projection_latest" ->
      (eventsCte +
      """
        |SELECT user_id, event_type, value, ts FROM (
        |  SELECT user_id, event_type, value, ts,
        |         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM e)
        |WHERE rn = 1
        |ORDER BY user_id""".stripMargin),

    "q28_event_log_audit" ->
      (eventsCte +
      """
        |SELECT CAST(ts AS DATE) AS day, event_type, COUNT(*) AS n,
        |       CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
        |FROM e
        |GROUP BY day, event_type
        |ORDER BY day, event_type""".stripMargin),

    "q29_doc_dedup_md5" ->
      """SELECT md5(text) AS h, COUNT(*) AS n_copies, min(doc_id) AS rep_doc
        |FROM documents
        |GROUP BY md5(text)
        |HAVING COUNT(*) >= 2
        |ORDER BY h""".stripMargin,

    "q30_text_tokens" ->
      """SELECT token, COUNT(*) AS n
        |FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
        |GROUP BY token
        |ORDER BY n DESC, token
        |LIMIT 20""".stripMargin,

    "q31_similarity_topk" ->
      """WITH q AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0)
        |SELECT e.vec_id,
        |  ROUND(
        |    list_sum(list_transform(range(1, CAST(len(e.embedding) AS INTEGER) + 1),
        |      i -> CAST(e.embedding[i] AS DOUBLE) * CAST(q.qvec[i] AS DOUBLE)))
        |    / (sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
        |     * sqrt(list_sum(list_transform(q.qvec, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 4) AS sim
        |FROM embeddings e, q
        |WHERE e.vec_id <> 0
        |ORDER BY sim DESC, vec_id
        |LIMIT 10""".stripMargin,

    "q32_lang_stats" ->
      """SELECT lang, COUNT(*) AS n_docs, min(n_chars) AS min_chars, max(n_chars) AS max_chars,
        |       CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) AS avg_chars
        |FROM documents
        |GROUP BY lang
        |ORDER BY lang""".stripMargin,

    "q33_bnpl_pipeline" ->
      (eventsCte +
      """,
        |p AS (SELECT user_id, value,
        |        date_trunc('month', ts + INTERVAL '30 days') AS bill_month,
        |        '月まとめ払い' AS payment_mode
        |      FROM e WHERE event_type = 'purchase')
        |SELECT user_id, bill_month, payment_mode, COUNT(*) AS n_purchases,
        |       CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS billed_amount
        |FROM p
        |GROUP BY user_id, bill_month, payment_mode
        |ORDER BY user_id, bill_month""".stripMargin),

    "q36_ngram_jaccard" ->
      """WITH sp AS (SELECT doc_id, string_split(text, ' ') AS s FROM documents),
        |idx AS (SELECT doc_id, s, unnest(generate_series(1, len(s) - 2)) AS i FROM sp WHERE len(s) >= 3),
        |sh AS (SELECT DISTINCT doc_id, s[i] || ' ' || s[i+1] || ' ' || s[i+2] AS shingle FROM idx),
        |sizes AS (SELECT doc_id, COUNT(*) AS ns FROM sh GROUP BY doc_id),
        |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
        |          FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |          GROUP BY a.doc_id, b.doc_id)
        |SELECT doc_a, doc_b, n_inter,
        |       CAST(n_inter AS DOUBLE) / CAST(x.ns + y.ns - n_inter AS DOUBLE) AS jaccard
        |FROM inter JOIN sizes x ON doc_a = x.doc_id JOIN sizes y ON doc_b = y.doc_id
        |WHERE CAST(n_inter AS DOUBLE) / CAST(x.ns + y.ns - n_inter AS DOUBLE) >= 0.5
        |ORDER BY doc_a, doc_b""".stripMargin,

    "q37_cosine_neardup" -> annPairsSql,

    "q81_semantic_dedup" -> semanticDedupSql,

    // q82: per-character entropy terms ROUND-6'd BEFORE an ordered fold
    // (the q73 posture — bit-identical transcendentals on both engines
    // before any accumulation); characters enumerate by POSITION
    // (generate_series + substr), not regex split, whose empty-pattern
    // edge semantics differ between engines.
    "q82_char_entropy" ->
      s"""WITH ch AS (SELECT doc_id, substr(text, CAST(i AS INTEGER), 1) AS ch
        |            FROM documents, unnest(generate_series(1, CAST(len(text) AS INTEGER))) AS u(i)
        |            WHERE len(text) > 0),
        |c AS (SELECT doc_id, ch, COUNT(*) AS c FROM ch GROUP BY doc_id, ch),
        |agg AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_chars,
        |          CAST(COUNT(*) AS BIGINT) AS n_distinct_chars,
        |          list_reduce(list_prepend(0.0, array_agg(ROUND(c * log2(c), 6) ORDER BY ch)),
        |            (p, q) -> p + q) AS sum_t
        |        FROM c GROUP BY doc_id)
        |SELECT doc_id, n_chars, n_distinct_chars,
        |  ROUND(log2(n_chars) - sum_t / n_chars, 4) AS entropy_bits,
        |  (ROUND(log2(n_chars) - sum_t / n_chars, 4) < ${Text.LowEntropyBits}) AS low_entropy
        |FROM agg
        |ORDER BY doc_id""".stripMargin,

    // q84: exact containment over all shared-shingle pairs — the oracle
    // enumerates pairs directly (no prefix mirror: prefix pruning is
    // engine-internal and completeness-preserving, so results must agree)
    // but DOES mirror the one semantic filter, the hot-shingle df cap:
    // the engine provably finds exactly the qualifying pairs sharing ≥ 1
    // in-band shingle (Text.containmentPairs scaladoc), stated here as
    // n_lowdf >= 1. Orientation and threshold are pure integer arithmetic.
    "q85_random_projection" -> jlSql,

    // q89: x/y ROUND-6'd per row, each regression sum folded in rank
    // order, slope/intercept from identical operands before ROUND-4.
    "q89_zipf_fit" ->
      s"""WITH c AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS n
        |           FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
        |           GROUP BY token ORDER BY n DESC, token LIMIT ${Text.ZipfTopN}),
        |r AS (SELECT ROUND(ln(CAST(row_number() OVER (ORDER BY n DESC, token) AS DOUBLE)), 6) AS x,
        |             ROUND(ln(CAST(n AS DOUBLE)), 6) AS y,
        |             row_number() OVER (ORDER BY n DESC, token) AS rk
        |      FROM c),
        |s AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_ranks,
        |        list_reduce(list_prepend(0.0, array_agg(x ORDER BY rk)), (p, q) -> p + q) AS sx,
        |        list_reduce(list_prepend(0.0, array_agg(y ORDER BY rk)), (p, q) -> p + q) AS sy,
        |        list_reduce(list_prepend(0.0, array_agg(ROUND(x * y, 6) ORDER BY rk)), (p, q) -> p + q) AS sxy,
        |        list_reduce(list_prepend(0.0, array_agg(ROUND(x * x, 6) ORDER BY rk)), (p, q) -> p + q) AS sxx
        |      FROM r)
        |SELECT n_ranks,
        |  CASE WHEN n_ranks > 0 AND (n_ranks * sxx - sx * sx) <> 0
        |       THEN ROUND((n_ranks * sxy - sx * sy) / (n_ranks * sxx - sx * sx), 4)
        |       ELSE NULL END AS zipf_slope,
        |  CASE WHEN n_ranks > 0 AND (n_ranks * sxx - sx * sx) <> 0
        |       THEN ROUND((sy - ((n_ranks * sxy - sx * sy) / (n_ranks * sxx - sx * sx)) * sx) / n_ranks, 4)
        |       ELSE NULL END AS zipf_intercept
        |FROM s""".stripMargin,

    // q88: on this corpus the 31-token alphabet fits the 256-counter
    // Misra-Gries budget, so the sketch is exact and the oracle is q30's
    // counts under the sketch's column names (the sub-budget regime is
    // ScalaTest-law-pinned, not oracled — see FreqSketch).
    "q88_heavy_hitters" ->
      s"""SELECT token, CAST(COUNT(*) AS BIGINT) AS est
        |FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
        |GROUP BY token
        |ORDER BY est DESC, token
        |LIMIT ${Text.HhK}""".stripMargin,

    // q87: the oracle states the SEMANTICS directly as the inequality
    // join (DuckDB's IEJoin handles it); the binning is engine-internal
    // and meeting-exactly-once, so results must agree. Exact integer
    // micros throughout.
    "q87_time_range_join" ->
      (eventsCte + s""",
        |p AS (SELECT event_id AS purchase_id, epoch_us(ts) AS p_us FROM e WHERE event_type = 'purchase'),
        |c AS (SELECT epoch_us(ts) AS c_us FROM e WHERE event_type = 'click'),
        |j AS (SELECT purchase_id, CAST(COUNT(*) AS BIGINT) AS n, CAST(MIN(ABS(c_us - p_us)) AS BIGINT) AS gap
        |      FROM p JOIN c ON ABS(c.c_us - p.p_us) <= ${Events.RangeJoinWindowUs}
        |      GROUP BY purchase_id)
        |SELECT p.purchase_id, p.p_us AS purchase_us,
        |  COALESCE(j.n, 0) AS n_nearby_clicks, j.gap AS nearest_gap_us
        |FROM p LEFT JOIN j USING (purchase_id)
        |ORDER BY p.purchase_id""".stripMargin),

    // q86: distinct (user, day) set → per-user min = cohort; all date and
    // count arithmetic is exact, the only float is the final ratio4.
    "q86_cohort_retention" ->
      (eventsCte + s""",
        |ud AS (SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS d
        |       FROM e WHERE user_id IS NOT NULL),
        |u AS (SELECT user_id, min(d) AS cohort_day FROM ud GROUP BY user_id),
        |a AS (SELECT u.cohort_day, CAST(ud.d - u.cohort_day AS BIGINT) AS day_offset,
        |        CAST(COUNT(*) AS BIGINT) AS n_active
        |      FROM ud JOIN u USING (user_id) GROUP BY 1, 2),
        |s AS (SELECT cohort_day, CAST(COUNT(*) AS BIGINT) AS cohort_n FROM u GROUP BY 1)
        |SELECT a.cohort_day, a.day_offset, a.n_active, s.cohort_n,
        |  ${ratio4Sql("a.n_active", "s.cohort_n")} AS retention
        |FROM a JOIN s USING (cohort_day)
        |ORDER BY a.cohort_day, a.day_offset""".stripMargin),

    "q84_containment" ->
      s"""WITH sp AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents
        |           WHERE len(string_split(text, ' ')) >= 3),
        |sh AS (SELECT doc_id, unnest(list_distinct(list_transform(generate_series(1, CAST(len(t) AS INTEGER) - 2),
        |         i -> t[CAST(i AS INTEGER)] || ' ' || t[CAST(i+1 AS INTEGER)] || ' ' || t[CAST(i+2 AS INTEGER)]))) AS shingle
        |       FROM sp),
        |dfc AS (SELECT shingle, CAST(COUNT(*) AS BIGINT) AS df FROM sh GROUP BY shingle),
        |n AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS ns FROM sh GROUP BY doc_id),
        |i AS (SELECT a.doc_id AS da, b.doc_id AS db, CAST(COUNT(*) AS BIGINT) AS n_inter,
        |        CAST(SUM(CASE WHEN dfc.df <= ${Text.ContainmentMaxDf} THEN 1 ELSE 0 END) AS BIGINT) AS n_lowdf
        |      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |      JOIN dfc ON dfc.shingle = a.shingle
        |      GROUP BY a.doc_id, b.doc_id),
        |o AS (SELECT
        |        CASE WHEN na.ns < nb.ns OR (na.ns = nb.ns AND da < db) THEN da ELSE db END AS doc_s,
        |        CASE WHEN na.ns < nb.ns OR (na.ns = nb.ns AND da < db) THEN db ELSE da END AS doc_l,
        |        LEAST(na.ns, nb.ns) AS n_s, GREATEST(na.ns, nb.ns) AS n_l, i.n_inter
        |      FROM i JOIN n na ON na.doc_id = i.da JOIN n nb ON nb.doc_id = i.db
        |      WHERE i.n_inter * ${Text.ContainmentDen} >= LEAST(na.ns, nb.ns) * ${Text.ContainmentNum}
        |        AND i.n_lowdf >= 1)
        |SELECT doc_s, doc_l, n_s, n_l, n_inter,
        |  ${ratio4Sql("n_inter", "n_s")} AS containment,
        |  ${ratio4Sql("n_inter", "(n_s + n_l - n_inter)")} AS jaccard
        |FROM o
        |ORDER BY doc_s, doc_l""".stripMargin,

    // q83: q67's distinct-trigram construction lifted to per-SOURCE sets;
    // overlap counts are exact integers and jaccard is the exact-integer
    // ratio4 — nothing in the compare rides on float association.
    "q83_source_overlap" ->
      s"""WITH sp AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents
        |           WHERE len(string_split(text, ' ')) >= 3),
        |sh AS (SELECT doc_id, unnest(list_transform(generate_series(1, CAST(len(t) AS INTEGER) - 2),
        |         i -> t[CAST(i AS INTEGER)] || ' ' || t[CAST(i+1 AS INTEGER)] || ' ' || t[CAST(i+2 AS INTEGER)])) AS shingle
        |       FROM sp),
        |s AS (SELECT DISTINCT d.source, sh.shingle
        |      FROM sh JOIN documents d ON d.doc_id = sh.doc_id),
        |n AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n FROM s GROUP BY source),
        |p AS (SELECT a.source AS source_a, b.source AS source_b, CAST(COUNT(*) AS BIGINT) AS n_shared
        |      FROM s a JOIN s b ON a.shingle = b.shingle AND a.source < b.source
        |      GROUP BY a.source, b.source)
        |SELECT p.source_a, p.source_b, na.n AS n_a, nb.n AS n_b, p.n_shared,
        |  ${ratio4Sql("p.n_shared", "(na.n + nb.n - p.n_shared)")} AS jaccard
        |FROM p JOIN n na ON na.source = p.source_a JOIN n nb ON nb.source = p.source_b
        |ORDER BY p.source_a, p.source_b""".stripMargin,

    "q39_langid" ->
      """WITH tok AS (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS token FROM documents),
        |profile AS (SELECT token, lang AS cand_lang, COUNT(*) AS cnt FROM tok GROUP BY token, lang),
        |scored AS (SELECT t.doc_id, t.lang, p.cand_lang, CAST(SUM(p.cnt) AS BIGINT) AS score
        |           FROM tok t JOIN profile p USING (token)
        |           GROUP BY t.doc_id, t.lang, p.cand_lang),
        |ranked AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, cand_lang) AS rn
        |           FROM scored)
        |SELECT doc_id, lang, cand_lang AS pred_lang, score
        |FROM ranked WHERE rn = 1
        |ORDER BY doc_id""".stripMargin,

    "q40_quality_score" ->
      """WITH d AS (SELECT doc_id, n_chars, text, string_split(text, ' ') AS sp FROM documents)
        |SELECT doc_id, n_chars,
        |  CAST(len(sp) AS INTEGER) AS n_tokens,
        |  CAST(len(list_distinct(sp)) AS INTEGER) AS n_distinct,
        |  CAST(len(list_distinct(sp)) AS DOUBLE) / CAST(len(sp) AS DOUBLE) AS ttr,
        |  CAST(length(text) - len(sp) + 1 AS DOUBLE) / CAST(len(sp) AS DOUBLE) AS avg_token_len,
        |  CASE WHEN len(sp) >= 20 AND CAST(len(list_distinct(sp)) AS DOUBLE) / CAST(len(sp) AS DOUBLE) >= 0.2
        |       THEN 'good' ELSE 'low' END AS quality
        |FROM d
        |ORDER BY doc_id""".stripMargin,

    "q41_token_count" ->
      """SELECT doc_id,
        |  CAST(len(string_split(text, ' ')) AS INTEGER) AS ws_tokens,
        |  CAST(len(regexp_extract_all(text, '[a-z]+')) AS INTEGER) AS re_tokens,
        |  CAST(n_chars AS DOUBLE) / CAST(len(string_split(text, ' ')) AS DOUBLE) AS chars_per_token
        |FROM documents
        |ORDER BY doc_id""".stripMargin,

    // q58: the smoothed-idf constant 1.0 and the ROUND placement mirror
    // graft.queries.Text.q58; ln operands are ratios of the same BIGINTs on
    // both sides, so the one transcendental evaluates on identical doubles.
    "q58_tfidf" ->
      s"""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
        |tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM tok GROUP BY doc_id, token),
        |dfreq AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY token),
        |n AS (SELECT COUNT(*) AS n_docs FROM documents),
        |scored AS (
        |  SELECT doc_id, token, tf, df,
        |         ROUND(CAST(tf AS DOUBLE) *
        |               (ln((1.0 + n_docs) / (1.0 + df)) + 1.0), 4) AS tfidf
        |  FROM tf JOIN dfreq USING (token), n),
        |r AS (SELECT *, CAST(row_number() OVER (
        |        PARTITION BY doc_id ORDER BY tfidf DESC, token) AS INTEGER) AS rk
        |      FROM scored)
        |SELECT doc_id, token, tf, df, tfidf, rk
        |FROM r WHERE rk <= ${Text.TfIdfTopK}
        |ORDER BY doc_id, rk""".stripMargin,

    // q63: string_agg with an explicit (ts, event_id) ORDER BY mirrors the
    // sorted-struct-array assembly on the Spark side.
    "q63_event_journey" ->
      (eventsCte +
      """
        |SELECT user_id, COUNT(*) AS n_events,
        |  string_agg(event_type, '>' ORDER BY ts, event_id) AS journey
        |FROM e
        |GROUP BY user_id
        |ORDER BY user_id""".stripMargin),

    // q64: bigrams emitted directly as two aligned positional unnests (no
    // concat-then-resplit — that round-trip would silently corrupt if a
    // tokenizer ever produced tokens containing the delimiter);
    // SUM(BIGINT) is HUGEINT in DuckDB → cast.
    "q64_bigram_model" ->
      s"""WITH d AS (SELECT string_split(text, ' ') AS t FROM documents
        |           WHERE len(string_split(text, ' ')) >= 2),
        |bi AS (SELECT
        |         unnest(list_transform(generate_series(1, CAST(len(t) AS INTEGER) - 1),
        |           i -> t[CAST(i AS INTEGER)])) AS w1,
        |         unnest(list_transform(generate_series(1, CAST(len(t) AS INTEGER) - 1),
        |           i -> t[CAST(i + 1 AS INTEGER)])) AS w2
        |       FROM d),
        |c AS (SELECT w1, w2, COUNT(*) AS n FROM bi GROUP BY w1, w2),
        |h AS (SELECT w1, CAST(SUM(n) AS BIGINT) AS n_head FROM c GROUP BY w1),
        |r AS (SELECT c.w1, c.w2, c.n, h.n_head,
        |        ${ratio4Sql("c.n", "h.n_head")} AS p,
        |        CAST(row_number() OVER (PARTITION BY c.w1 ORDER BY c.n DESC, c.w2) AS INTEGER) AS rk
        |      FROM c JOIN h ON h.w1 = c.w1)
        |SELECT w1, w2, n, n_head, p, rk
        |FROM r WHERE rk <= ${Text.BigramTopK}
        |ORDER BY w1, rk""".stripMargin,

    // q70: same first-token blocking and the standard Levenshtein DP in
    // both engines; distances are exact integers.
    "q70_fuzzy_match" ->
      s"""WITH names AS (
        |  SELECT p_name, COUNT(*) AS n_parts, string_split(p_name, ' ')[1] AS tok1
        |  FROM part GROUP BY p_name)
        |SELECT a.p_name AS name_a, b.p_name AS name_b,
        |       CAST(levenshtein(a.p_name, b.p_name) AS INTEGER) AS dist,
        |       a.n_parts AS n_a, b.n_parts AS n_b
        |FROM names a JOIN names b
        |  ON a.tok1 = b.tok1 AND a.p_name < b.p_name
        |WHERE levenshtein(a.p_name, b.p_name) <= ${Text.FuzzyMaxDist}
        |ORDER BY dist, name_a, name_b""".stripMargin,

    // q73: every ln() operand is the identical (c+1)/(n_head+V) BIGINT
    // ratio; the per-doc sum folds the position-ordered array_agg
    // sequentially from 0.0 (list_reduce parity with Spark's aggregate),
    // then ROUND 4. -x/n and exp(-x/n) evaluate on identical doubles.
    "q73_lm_perplexity" ->
      s"""WITH $lmPerDocCtes
        |SELECT doc_id, n_bigrams, avg_neg_logp, perplexity
        |FROM sc
        |ORDER BY doc_id""".stripMargin,

    // q108: CCNet-style quality buckets over the q73 per-doc scores —
    // thresholds are ORDER STATISTICS of the fixed hash-ordered sample
    // (elements of the score multiset, never interpolated), so both
    // engines bucket against bit-identical doubles.
    "q108_quality_buckets" ->
      s"""WITH $lmPerDocCtes,
        |samp AS (SELECT avg_neg_logp FROM sc
        |         ORDER BY ('0x' || substr(md5('qsample:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT,
        |                  doc_id
        |         LIMIT ${Text.QualitySampleN}),
        |thr AS (SELECT ss[CAST((len(ss) + 2) // 3 AS INTEGER)] AS t1,
        |               ss[CAST((2 * len(ss) + 2) // 3 AS INTEGER)] AS t2
        |        FROM (SELECT array_agg(avg_neg_logp ORDER BY avg_neg_logp) AS ss FROM samp))
        |SELECT CASE WHEN avg_neg_logp <= t1 THEN 'head'
        |            WHEN avg_neg_logp <= t2 THEN 'middle'
        |            ELSE 'tail' END AS bucket,
        |       t1, t2,
        |       CAST(COUNT(*) AS BIGINT) AS n_docs,
        |       MIN(avg_neg_logp) AS min_score,
        |       MAX(avg_neg_logp) AS max_score,
        |       CAST(SUM(n_bigrams) AS BIGINT) AS sum_bigrams
        |FROM sc, thr
        |GROUP BY bucket, t1, t2
        |ORDER BY bucket""".stripMargin,

    // q74: margins aggregated from the counts CTE; PMI operands cast to
    // DOUBLE before multiplying (BIGINT product would overflow at scale;
    // double arithmetic is engine-identical), ln on identical doubles,
    // ROUND 4, no post-transcendental aggregation.
    "q74_pmi_collocations" ->
      s"""WITH d AS (SELECT string_split(text, ' ') AS t FROM documents
        |           WHERE len(string_split(text, ' ')) >= 2),
        |bi AS (SELECT
        |         unnest(list_transform(generate_series(1, CAST(len(t) AS INTEGER) - 1),
        |           i -> t[CAST(i AS INTEGER)])) AS w1,
        |         unnest(list_transform(generate_series(1, CAST(len(t) AS INTEGER) - 1),
        |           i -> t[CAST(i + 1 AS INTEGER)])) AS w2
        |       FROM d),
        |c AS (SELECT w1, w2, COUNT(*) AS c FROM bi GROUP BY w1, w2),
        |h AS (SELECT w1, CAST(SUM(c) AS BIGINT) AS n_head FROM c GROUP BY w1),
        |tl AS (SELECT w2, CAST(SUM(c) AS BIGINT) AS n_tail FROM c GROUP BY w2),
        |n AS (SELECT CAST(SUM(c) AS BIGINT) AS n_total FROM c)
        |SELECT c.w1, c.w2, c.c,
        |  ROUND(ln((CAST(c.c AS DOUBLE) * CAST(n.n_total AS DOUBLE))
        |           / (CAST(h.n_head AS DOUBLE) * CAST(tl.n_tail AS DOUBLE))), 4) AS pmi
        |FROM c JOIN h ON h.w1 = c.w1 JOIN tl ON tl.w2 = c.w2, n
        |WHERE c.c >= ${Text.PmiMinCount}
        |ORDER BY pmi DESC, c.w1, c.w2
        |LIMIT ${Text.PmiTopK}""".stripMargin,

    "q42_doc_fingerprint" ->
      """SELECT md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS fp,
        |       COUNT(*) AS n_docs, min(doc_id) AS rep_doc
        |FROM documents
        |GROUP BY fp
        |ORDER BY fp""".stripMargin,

    "q50_map_funcs" ->
      (eventsCte +
      """
        |SELECT event_id,
        |  CAST(len(json_keys(props)) AS INTEGER) AS n_keys,
        |  array_to_string(list_sort(json_keys(props)), ',') AS keys,
        |  CAST(json_extract_string(props, '$.k') AS INTEGER) AS k_val,
        |  CAST(len(json_keys(props)) + 1 AS INTEGER) AS n_after_concat
        |FROM e
        |ORDER BY event_id
        |LIMIT 500""".stripMargin),

    // q59: mirrors graft.queries.Vectors.q59 — floor(x·scale + 0.5) is the
    // explicit half-up both engines compute identically; the error mean
    // folds via list_reduce from a 0.0 seed (sequential-fold parity with
    // Spark's aggregate), the max is order-free.
    "q59_int8_quantize" ->
      """WITH x AS (SELECT vec_id, list_transform(embedding, v -> CAST(v AS DOUBLE)) AS xd
        |           FROM embeddings),
        |a AS (SELECT vec_id, xd,
        |             list_max(list_transform(xd, v -> abs(v))) AS amax FROM x),
        |s AS (SELECT vec_id, xd, amax,
        |             CASE WHEN amax = 0 THEN 0.0 ELSE 127.0 / amax END AS scale FROM a),
        |q AS (SELECT vec_id, xd, amax, scale,
        |             list_transform(xd, v -> CAST(floor(v * scale + 0.5) AS INTEGER)) AS qa
        |      FROM s),
        |e AS (SELECT vec_id, amax, scale, qa,
        |             list_transform(generate_series(1, CAST(len(xd) AS INTEGER)),
        |               i -> abs(xd[CAST(i AS INTEGER)] -
        |                 CASE WHEN scale = 0 THEN 0.0
        |                      ELSE CAST(qa[CAST(i AS INTEGER)] AS DOUBLE) / scale END)) AS errs
        |      FROM q)
        |SELECT vec_id,
        |  ROUND(amax, 4) AS amax,
        |  array_to_string(qa[1:8], ',') AS q_head8,
        |  ROUND(list_reduce(list_prepend(0.0, errs), (p, v) -> p + v)
        |        / CAST(len(errs) AS DOUBLE), 4) AS mean_abs_err,
        |  ROUND(list_max(errs), 4) AS max_abs_err
        |FROM e
        |ORDER BY vec_id""".stripMargin,

    // q65: mirrors graft.queries.Vectors.q65 — normalize-then-quantize
    // folds sequentially (list_reduce from 0.0) and floors with the same
    // v / nrm * 127.0 + 0.5 operand order; the integer dot product is
    // exact BIGINT in any order. 16129 = 127².
    "q65_quantized_ann" ->
      """WITH x AS (SELECT vec_id, list_transform(embedding, v -> CAST(v AS DOUBLE)) AS xd
        |           FROM embeddings),
        |n AS (SELECT vec_id, xd,
        |        sqrt(list_reduce(list_prepend(0.0, list_transform(xd, v -> v * v)),
        |             (p, q) -> p + q)) AS nrm FROM x),
        |qv AS (SELECT vec_id,
        |         list_transform(xd, v -> CASE WHEN nrm = 0 THEN 0
        |           ELSE CAST(floor(v / nrm * 127.0 + 0.5) AS INTEGER) END) AS q8
        |       FROM n),
        |qq AS (SELECT q8 AS qq FROM qv WHERE vec_id = 0),
        |d AS (SELECT e.vec_id,
        |        list_reduce(list_prepend(0::BIGINT,
        |          list_transform(generate_series(1, CAST(len(e.q8) AS INTEGER)),
        |            i -> CAST(e.q8[CAST(i AS INTEGER)] AS BIGINT) *
        |                 CAST(qq.qq[CAST(i AS INTEGER)] AS BIGINT))),
        |          (p, q) -> p + q) AS dot_q
        |      FROM qv e, qq WHERE e.vec_id <> 0)
        |SELECT vec_id, dot_q,
        |       ROUND(CAST(dot_q AS DOUBLE) / 16129.0, 4) AS approx_sim
        |FROM d
        |ORDER BY dot_q DESC, vec_id
        |LIMIT 10""".stripMargin,

    "q34_minhash_lsh" -> minhashSql,

    "q99_dedup_eval" -> dedupEvalSql,

    "q100_leakage_safe_split" -> leakageSplitSql,
    "q35_simhash" -> simhashSql,
    "q38_ann_lsh" -> annSql,
    "q57_dedup_clusters" -> dedupClustersSql,
    "q66_dedup_materialize" -> dedupMaterializeSql,

    // q67: the same distinct-trigram construction as q34/q36's CTEs,
    // constrained to train (source <> src0) × benchmark (source = src0);
    // intersection counts are exact integers.
    "q67_decontamination" -> decontaminationSql,

    // q101: the Bloom prefilter is a pure candidate reducer — false
    // positives die in the exact join, false negatives cannot exist —
    // so the sketch-accelerated form answers to the SAME oracle as q67.
    "q101_bloom_decontamination" -> decontaminationSql,

    // q51/q52: the h60 split/sample hashes, mirrored from graft.ops.Dsl.h60
    // with the same per-operator salts ("split:" / "strat:").
    "q51_dataset_split" ->
      """WITH b AS (
        |  SELECT doc_id, n_chars,
        |         ('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100 AS bucket
        |  FROM documents)
        |SELECT CASE WHEN bucket < 80 THEN 'train'
        |            WHEN bucket < 90 THEN 'val'
        |            ELSE 'test' END AS split,
        |       COUNT(*) AS n_docs,
        |       CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
        |       min(doc_id) AS min_doc, max(doc_id) AS max_doc
        |FROM b
        |GROUP BY 1
        |ORDER BY split""".stripMargin,

    "q52_stratified_sample" ->
      s"""WITH h AS (
        |  SELECT lang, doc_id,
        |         ('0x' || substr(md5('strat:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS hk
        |  FROM documents),
        |r AS (
        |  SELECT lang, doc_id,
        |         CAST(row_number() OVER (PARTITION BY lang ORDER BY hk, doc_id) AS INTEGER) AS rk
        |  FROM h)
        |SELECT lang, doc_id, rk
        |FROM r
        |WHERE rk <= ${Sampling.StratumK}
        |ORDER BY lang, rk""".stripMargin,

    // q60: both engines window over floor(epoch seconds); RANGE peers
    // (same-second events) are included identically, and the rolling sum is
    // exact DECIMAL, so frames and values match bit-for-bit.
    "q60_rolling_window" ->
      (eventsCte +
      """
        |, s AS (SELECT event_id, user_id, ts, value,
        |          CAST(floor(epoch(ts)) AS BIGINT) AS sec FROM e)
        |SELECT event_id, user_id, ts,
        |  COUNT(*) OVER w AS n_1h,
        |  CAST(SUM(CAST(value AS DECIMAL(18,4))) OVER w AS DOUBLE) AS sum_1h
        |FROM s
        |WINDOW w AS (PARTITION BY user_id ORDER BY sec
        |             RANGE BETWEEN 3599 PRECEDING AND CURRENT ROW)
        |ORDER BY event_id""".stripMargin),

    // q61: arg_min/arg_max over the same fixed-width (epoch-micros ‖
    // event_id) string key the Spark side builds — a total order, so the
    // selected rows are unique and engine-identical. Parity ASSUMES
    // non-null payloads (holds for events.value/event_type): DuckDB's
    // arg_max skips null-arg rows where Spark's max_by returns the null at
    // the winning key — a nullable payload must be coalesced into the
    // ordering struct on both sides before these can be compared.
    "q61_argminmax" ->
      (eventsCte +
      """
        |, k AS (SELECT user_id, event_type, value, ts,
        |          lpad(CAST(epoch_us(ts) AS VARCHAR), 20, '0') ||
        |          lpad(CAST(event_id AS VARCHAR), 12, '0') AS key FROM e)
        |SELECT user_id, COUNT(*) AS n_events,
        |  arg_min(event_type, key) AS first_type,
        |  min(ts) AS first_ts,
        |  arg_max(event_type, key) AS last_type,
        |  arg_max(value, key) AS last_value,
        |  max(ts) AS last_ts
        |FROM k
        |GROUP BY user_id
        |ORDER BY user_id""".stripMargin),

    // q62: the same strictly-after stage chain (filter → join → MIN per
    // stage); MIN over timestamps is exact, LEFT JOINs preserve stalled
    // users, stages_completed counts non-null stage times.
    "q62_funnel" ->
      (eventsCte +
      """
        |, s1 AS (SELECT user_id, min(ts) AS t_signup FROM e
        |         WHERE event_type = 'signup' GROUP BY user_id),
        |s2 AS (SELECT e.user_id, min(e.ts) AS t_view FROM e
        |       JOIN s1 ON s1.user_id = e.user_id
        |       WHERE e.event_type = 'view' AND e.ts > s1.t_signup
        |       GROUP BY e.user_id),
        |s3 AS (SELECT e.user_id, min(e.ts) AS t_click FROM e
        |       JOIN s2 ON s2.user_id = e.user_id
        |       WHERE e.event_type = 'click' AND e.ts > s2.t_view
        |       GROUP BY e.user_id),
        |s4 AS (SELECT e.user_id, min(e.ts) AS t_purchase FROM e
        |       JOIN s3 ON s3.user_id = e.user_id
        |       WHERE e.event_type = 'purchase' AND e.ts > s3.t_click
        |       GROUP BY e.user_id)
        |SELECT s1.user_id, t_signup, t_view, t_click, t_purchase,
        |  CAST(1 + (t_view IS NOT NULL)::INTEGER + (t_click IS NOT NULL)::INTEGER
        |         + (t_purchase IS NOT NULL)::INTEGER AS INTEGER) AS stages_completed
        |FROM s1
        |LEFT JOIN s2 ON s2.user_id = s1.user_id
        |LEFT JOIN s3 ON s3.user_id = s1.user_id
        |LEFT JOIN s4 ON s4.user_id = s1.user_id
        |ORDER BY s1.user_id""".stripMargin),

    // q69: identical definitions in both engines; ntile is BIGINT in
    // DuckDB → cast; the window order is total so bucket membership is
    // engine-stable.
    // q69: under the TOTAL window order rank = row_number and peers are
    // singletons, so percent_rank/cume_dist are the explicit integer
    // ratios (rn-1)/(np-1) and rn/np — ratio4Sql'd (D6), mirroring the
    // Spark side.
    "q69_rank_distribution" ->
      s"""WITH r AS (
        |  SELECT o_orderkey, o_orderpriority, o_totalprice,
        |    row_number() OVER w AS rn,
        |    COUNT(*) OVER (PARTITION BY o_orderpriority) AS np,
        |    CAST(ntile(4) OVER w AS INTEGER) AS quartile
        |  FROM orders
        |  WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey))
        |SELECT o_orderkey, o_orderpriority, o_totalprice,
        |  CASE WHEN np = 1 THEN 0.0 ELSE ${ratio4Sql("rn - 1", "np - 1")} END AS pct_rank,
        |  ${ratio4Sql("rn", "np")} AS cume,
        |  quartile
        |FROM r
        |ORDER BY o_orderpriority, o_orderkey
        |LIMIT 1000""".stripMargin,

    // q71: generate_subscripts is DuckDB's positional unnest (no WITH
    // ORDINALITY); the top-K vocabulary ranking (count desc, token asc)
    // and the position-ordered string_agg mirror the Spark side exactly.
    "q71_oov_redaction" ->
      s"""WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS token,
        |         generate_subscripts(string_split(text, ' '), 1) AS pos
        |  FROM documents),
        |f AS (SELECT token, COUNT(*) AS c FROM tok GROUP BY token),
        |v AS (SELECT token FROM f ORDER BY c DESC, token LIMIT ${Sampling.VocabK}),
        |r AS (SELECT t.doc_id, t.pos,
        |             CASE WHEN v.token IS NULL THEN '<unk>' ELSE t.token END AS rt
        |      FROM tok t LEFT JOIN v ON v.token = t.token)
        |SELECT doc_id, COUNT(*) AS n_tokens,
        |  CAST(SUM(CASE WHEN rt = '<unk>' THEN 1 ELSE 0 END) AS BIGINT) AS n_unk,
        |  ${ratio4Sql("CAST(SUM(CASE WHEN rt = '<unk>' THEN 1 ELSE 0 END) AS BIGINT)", "COUNT(*)")} AS unk_rate,
        |  md5(string_agg(rt, ' ' ORDER BY pos)) AS redacted_md5
        |FROM r
        |GROUP BY doc_id
        |ORDER BY doc_id""".stripMargin,

    // q72: identical integer window arithmetic; shard = starting token
    // offset div budget. MUST be DuckDB integer division `//` — `/` is
    // float division and CAST(double AS BIGINT) ROUNDS (half-even), where
    // Spark's cast("long") truncates.
    "q72_token_sharding" ->
      s"""WITH d AS (
        |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |c AS (SELECT doc_id, n_tokens,
        |        SUM(n_tokens) OVER (ORDER BY doc_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |      FROM d)
        |SELECT CAST((cum - n_tokens) // ${Sampling.ShardBudget} AS BIGINT) AS shard_id,
        |  COUNT(*) AS n_docs,
        |  CAST(SUM(n_tokens) AS BIGINT) AS shard_tokens,
        |  min(doc_id) AS min_doc, max(doc_id) AS max_doc
        |FROM c
        |GROUP BY shard_id
        |ORDER BY shard_id""".stripMargin,

    "q75_windowed_distinct" ->
      (eventsCte +
      """
        |SELECT time_bucket(INTERVAL '1 hour', ts) AS win_start,
        |  COUNT(*) AS n_events,
        |  COUNT(DISTINCT user_id) AS n_users,
        |  COUNT(DISTINCT event_type) AS n_types
        |FROM e
        |GROUP BY 1
        |ORDER BY win_start""".stripMargin),

    "q76_boilerplate_chunks" -> boilerplateSql,

    "q136_boilerplate_scrub" -> boilerplateScrubSql,

    "q77_knn_join" -> knnSql,

    // q78: same aligned-unnest bigram CTE as q64's oracle, kept at doc
    // granularity; both fractions are ratio4Sql exact-integer rounds and
    // the verdict compares the unrounded IEEE ratio on both engines.
    "q78_repetition_score" ->
      s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents
        |           WHERE len(string_split(text, ' ')) >= 2),
        |bi AS (SELECT doc_id,
        |         unnest(list_transform(generate_series(1, CAST(len(t) AS INTEGER) - 1),
        |           i -> t[CAST(i AS INTEGER)])) AS w1,
        |         unnest(list_transform(generate_series(1, CAST(len(t) AS INTEGER) - 1),
        |           i -> t[CAST(i + 1 AS INTEGER)])) AS w2
        |       FROM d),
        |c AS (SELECT doc_id, w1, w2, COUNT(*) AS c FROM bi GROUP BY 1, 2, 3),
        |s AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_bigrams,
        |        CAST(MAX(c) AS BIGINT) AS top_c,
        |        CAST(SUM(CASE WHEN c >= 2 THEN c ELSE 0 END) AS BIGINT) AS dup_c
        |      FROM c GROUP BY doc_id)
        |SELECT doc_id, n_bigrams,
        |  ${ratio4Sql("top_c", "n_bigrams")} AS top_bigram_frac,
        |  ${ratio4Sql("dup_c", "n_bigrams")} AS dup_bigram_frac,
        |  CASE WHEN CAST(dup_c AS DOUBLE) / CAST(n_bigrams AS DOUBLE) > ${Text.RepetitionMaxDupFrac}
        |       THEN 'drop' ELSE 'keep' END AS verdict
        |FROM s
        |ORDER BY doc_id""".stripMargin,

    // q79: the h60 coin and the clamped-TTR keep probability mirror
    // Sampling.q79 constant for constant; ⌊p·scale⌋ and the modulus
    // compare as integers on both engines.
    "q79_quality_weighted_sample" ->
      s"""WITH d AS (SELECT doc_id, lang, n_chars, string_split(text, ' ') AS sp FROM documents),
        |p AS (SELECT doc_id, lang, n_chars,
        |        least(greatest(CAST(len(list_distinct(sp)) AS DOUBLE) / CAST(len(sp) AS DOUBLE),
        |          ${Sampling.QwMinP}), ${Sampling.QwMaxP}) AS p
        |      FROM d),
        |k AS (SELECT lang, n_chars,
        |        ('0x' || substr(md5('qw:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % ${Sampling.QwScale}
        |          < FLOOR(p * ${Sampling.QwScale}) AS kept
        |      FROM p)
        |SELECT lang, COUNT(*) AS n_total,
        |  CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  ${ratio4Sql("CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT)", "COUNT(*)")} AS kept_rate,
        |  CAST(SUM(CASE WHEN kept THEN n_chars ELSE 0 END) AS BIGINT) AS kept_chars
        |FROM k
        |GROUP BY lang
        |ORDER BY lang""".stripMargin,

    // q80: floor(sqrt(BIGINT)) is the true integer square root on both
    // engines (IEEE sqrt is correctly rounded and the nearest square is
    // ~1/(2√x) away); weights/epochs are ratio4Sql of BIGINTs and the
    // planned allocation an integer floor-div of positive operands.
    "q80_mixture_weights" ->
      s"""WITH t AS (SELECT source, COUNT(*) AS n_docs,
        |        CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS tokens
        |      FROM documents GROUP BY source),
        |w AS (SELECT source, n_docs, tokens,
        |        CAST(FLOOR(sqrt(CAST(tokens AS DOUBLE))) AS BIGINT) AS isqrt FROM t),
        |tot AS (SELECT CAST(SUM(isqrt) AS BIGINT) AS w_total FROM w),
        |p AS (SELECT source, n_docs, tokens, isqrt, w_total,
        |        (isqrt * ${Sampling.MixTargetTokens}) // w_total AS planned_tokens
        |      FROM w, tot)
        |SELECT source, n_docs, tokens,
        |  ${ratio4Sql("isqrt", "w_total")} AS weight,
        |  planned_tokens,
        |  ${ratio4Sql("planned_tokens", "tokens")} AS epochs
        |FROM p
        |ORDER BY source""".stripMargin,

    // q145: q80's budget chain verbatim, then hash-ranked prefix admission
    // per source (running token sum within the budget) and the fill audit
    "q145_mixture_realization" ->
      s"""WITH tok AS (
        |  SELECT source, doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
        |         ('0x' || substr(md5('mix:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS hk
        |  FROM documents),
        |w AS (SELECT source, COUNT(*) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS tokens,
        |        CAST(FLOOR(sqrt(CAST(SUM(n_tok) AS DOUBLE))) AS BIGINT) AS isqrt
        |      FROM tok GROUP BY source),
        |tot AS (SELECT CAST(SUM(isqrt) AS BIGINT) AS w_total FROM w),
        |bud AS (SELECT source, n_docs, tokens,
        |          (isqrt * ${Sampling.MixTargetTokens}) // w_total AS planned_tokens
        |        FROM w, tot),
        |ranked AS (SELECT source, n_tok,
        |    CAST(SUM(n_tok) OVER (PARTITION BY source ORDER BY hk, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
        |  FROM tok)
        |SELECT b.source, b.n_docs, b.tokens, b.planned_tokens,
        |  CAST(COALESCE(SUM(CASE WHEN r.cum <= b.planned_tokens THEN 1 END), 0) AS BIGINT) AS kept_docs,
        |  CAST(COALESCE(SUM(CASE WHEN r.cum <= b.planned_tokens THEN r.n_tok END), 0) AS BIGINT) AS kept_tokens,
        |  CASE WHEN b.planned_tokens > 0 THEN
        |    ${ratio4Sql(
             "COALESCE(SUM(CASE WHEN r.cum <= b.planned_tokens THEN r.n_tok END), 0)",
             "b.planned_tokens")}
        |  END AS fill4
        |FROM bud b JOIN ranked r ON b.source = r.source
        |GROUP BY b.source, b.n_docs, b.tokens, b.planned_tokens
        |ORDER BY b.source""".stripMargin,

    "q44_pivot" ->
      (eventsCte +
      """
        |SELECT user_id,
        |  COUNT(*) FILTER (WHERE event_type = 'click')    AS "click",
        |  COUNT(*) FILTER (WHERE event_type = 'error')    AS "error",
        |  COUNT(*) FILTER (WHERE event_type = 'purchase') AS "purchase",
        |  COUNT(*) FILTER (WHERE event_type = 'signup')   AS "signup",
        |  COUNT(*) FILTER (WHERE event_type = 'view')     AS "view"
        |FROM e
        |GROUP BY user_id
        |ORDER BY user_id""".stripMargin),

    "q45_percentiles" ->
      """SELECT l_returnflag, COUNT(*) AS n,
        |  ROUND(quantile_cont(CAST(l_quantity AS DOUBLE), 0.25), 4) AS p25,
        |  ROUND(quantile_cont(CAST(l_quantity AS DOUBLE), 0.5), 4)  AS p50,
        |  ROUND(quantile_cont(CAST(l_quantity AS DOUBLE), 0.75), 4) AS p75,
        |  ROUND(quantile_cont(CAST(l_quantity AS DOUBLE), 0.9), 4)  AS p90,
        |  min(l_quantity) AS min_qty, max(l_quantity) AS max_qty
        |FROM lineitem
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,

    "q46_correlated_subquery" ->
      """SELECT o_orderkey, o_custkey, o_totalprice
        |FROM orders o
        |WHERE CAST(o_totalprice AS DECIMAL(18,2)) *
        |      (SELECT COUNT(*) FROM orders o2 WHERE o2.o_custkey = o.o_custkey)
        |    > (SELECT SUM(CAST(o3.o_totalprice AS DECIMAL(18,2)))
        |       FROM orders o3 WHERE o3.o_custkey = o.o_custkey)
        |ORDER BY o_orderkey""".stripMargin,

    "q47_salted_agg" ->
      (eventsCte +
      """
        |SELECT event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
        |FROM e
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin),

    "q48_unpivot" ->
      (eventsCte +
      """
        |SELECT user_id, event_type, COUNT(*) AS n
        |FROM e
        |GROUP BY user_id, event_type
        |ORDER BY user_id, event_type""".stripMargin),

    "q49_cube" ->
      """SELECT l_returnflag, l_linestatus,
        |       CAST(GROUPING(l_returnflag) AS INTEGER) AS g_rf,
        |       CAST(GROUPING(l_linestatus) AS INTEGER) AS g_ls,
        |       COUNT(*) AS n,
        |       CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
        |FROM lineitem
        |GROUP BY CUBE(l_returnflag, l_linestatus)
        |HAVING COUNT(*) > 0 -- mirror Spark's empty-input CUBE (see q11)
        |ORDER BY g_rf, g_ls, l_returnflag, l_linestatus""".stripMargin,

    "q43_media_pipeline" ->
      """SELECT doc_id,
        |  CAST(octet_length(encode(text)) AS INTEGER) AS n_bytes,
        |  md5(text) AS content_md5,
        |  CAST(('0x' || substr(md5('w:' || text), 1, 15))::BIGINT % 1920 AS INTEGER) AS fake_width,
        |  CAST(('0x' || substr(md5('h:' || text), 1, 15))::BIGINT % 1080 AS INTEGER) AS fake_height,
        |  md5(substr(text, 1, 64)) AS frame_md5
        |FROM documents
        |ORDER BY doc_id""".stripMargin,

    // q91: all-integer output; the posting sample mirrors the engine's
    // rank-limited first-PostingSample-docs-by-doc_id semantics via an
    // ordered array_agg sliced to the same constant.
    "q91_inverted_index" ->
      s"""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
        |tf AS (SELECT token, doc_id, COUNT(*) AS tf FROM tok GROUP BY token, doc_id)
        |SELECT token, COUNT(*) AS df, CAST(SUM(tf) AS BIGINT) AS cf,
        |  array_to_string(list_slice(
        |    array_agg(CAST(doc_id AS VARCHAR) || ':' || CAST(tf AS VARCHAR) ORDER BY doc_id),
        |    1, ${Text.PostingSample}), ',') AS postings
        |FROM tf GROUP BY token ORDER BY token""".stripMargin,

    // q92: every float literal is interpolated from the SAME Scala
    // constants the engine uses (so both engines parse the identical
    // double), association is pinned left-to-right term-for-term, each
    // per-term score is ROUND-6'd before the token-ordered fold (q73
    // posture), and the sum is ROUND-4.
    "q92_bm25" -> bm25Sql,

    "q93_textrank" -> textRankSql,
    "q95_retrieval_eval" -> retrievalEvalSql,
    "q94_bpe_merges" -> bpeSql,
    "q111_bpe_encode" -> bpeEncodeSql,

    // q96: the next-fit recurrence is sequential per shard, so the oracle
    // walks it with a recursive CTE — the working table holds exactly one
    // row per shard per step (rn advances in lockstep), so recursion depth
    // is the longest shard, not the corpus. The base CTE is MATERIALIZED:
    // it is referenced from both the anchor and the recursive step.
    "q96_sequence_packing" ->
      s"""WITH RECURSIVE d AS MATERIALIZED (
        |  SELECT doc_id % ${Pack.PackShards} AS shard_id, doc_id,
        |         least(CAST(len(string_split(text, ' ')) AS BIGINT),
        |               ${Pack.PackContext}) AS t,
        |         CAST(row_number() OVER (PARTITION BY doc_id % ${Pack.PackShards}
        |                                 ORDER BY doc_id) AS BIGINT) AS rn
        |  FROM documents),
        |p AS (
        |  SELECT shard_id, doc_id, t, rn, CAST(0 AS BIGINT) AS bin_id, t AS fill
        |  FROM d WHERE rn = 1
        |  UNION ALL
        |  SELECT d.shard_id, d.doc_id, d.t, d.rn,
        |         CASE WHEN p.fill + d.t > ${Pack.PackContext}
        |              THEN p.bin_id + 1 ELSE p.bin_id END,
        |         CASE WHEN p.fill + d.t > ${Pack.PackContext}
        |              THEN d.t ELSE p.fill + d.t END
        |  FROM p JOIN d ON d.shard_id = p.shard_id AND d.rn = p.rn + 1)
        |SELECT shard_id, bin_id, COUNT(*) AS n_docs,
        |  CAST(SUM(t) AS BIGINT) AS bin_tokens,
        |  MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc,
        |  ${ratio4Sql("CAST(SUM(t) AS BIGINT)", Pack.PackContext.toString)} AS fill4
        |FROM p
        |GROUP BY shard_id, bin_id
        |ORDER BY shard_id, bin_id""".stripMargin,

    // q97: the shingle key is the raw space-joined L-gram on both engines
    // (token-sequence equality, no hash to agree on); occ is MATERIALIZED
    // because it is read twice (df count + flagged positions). The island
    // merge is the same two-window gaps-and-islands the Spark side runs.
    "q97_repeated_spans" -> {
      val L = Dedup.SpanL
      s"""WITH occ AS MATERIALIZED (
        |  SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
        |         array_to_string(t[CAST(i AS INTEGER):CAST(i AS INTEGER) + ${L - 1}], ' ') AS sh
        |  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents) d,
        |       unnest(generate_series(1, CAST(len(t) AS INTEGER) - $L + 1)) AS u(i)),
        |dup AS (SELECT sh FROM occ GROUP BY sh HAVING COUNT(*) >= 2),
        |f AS (SELECT occ.doc_id, occ.pos FROM occ JOIN dup USING (sh)),
        |g AS (SELECT doc_id, pos,
        |        max(pos + $L) OVER (PARTITION BY doc_id ORDER BY pos
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
        |      FROM f),
        |isl AS (SELECT doc_id, pos,
        |        SUM(CASE WHEN prev_end IS NULL OR pos > prev_end THEN 1 ELSE 0 END)
        |          OVER (PARTITION BY doc_id ORDER BY pos
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
        |      FROM g),
        |sp AS (SELECT doc_id, island,
        |         MAX(pos) + $L - MIN(pos) AS span_tokens
        |       FROM isl GROUP BY doc_id, island),
        |agg AS (SELECT doc_id, COUNT(*) AS n_spans,
        |          CAST(SUM(span_tokens) AS BIGINT) AS dup_tokens
        |        FROM sp GROUP BY doc_id),
        |n AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        |      FROM documents)
        |SELECT agg.doc_id, agg.n_spans, agg.dup_tokens, n.n_tokens,
        |  ${ratio4Sql("agg.dup_tokens", "n.n_tokens")} AS dup_ratio4
        |FROM agg JOIN n USING (doc_id)
        |ORDER BY agg.doc_id""".stripMargin
    },

    // q98: trigram first-seer = MIN(doc_id) per shingle — order-free, so
    // the ingest-order curve needs no replay; the cumulative sum is an
    // ordinary window here (the oracle states semantics; the engine's
    // two-phase range-partitioned prefix sum is the scale execution).
    // Engine shingles are hashed (q36 posture); counts agree from raw
    // strings. Ratios through ratio4; per-doc novelty NULL when the doc
    // has no trigrams (< 3 tokens); coverage NULL when the trigram
    // universe itself is empty (mirrors the engine-side guard — without
    // it Spark's 0/0 and DuckDB's NaN handling diverge).
    "q98_novelty_curve" ->
      s"""WITH sp AS (SELECT doc_id, string_split(text, ' ') AS s FROM documents),
        |idx AS (SELECT doc_id, s, unnest(generate_series(1, len(s) - 2)) AS i
        |        FROM sp WHERE len(s) >= 3),
        |sh AS (SELECT DISTINCT doc_id, s[i] || ' ' || s[i+1] || ' ' || s[i+2] AS shingle FROM idx),
        |per AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS ns FROM sh GROUP BY doc_id),
        |fs AS (SELECT shingle, MIN(doc_id) AS fmin FROM sh GROUP BY shingle),
        |np AS (SELECT fmin AS doc_id, CAST(COUNT(*) AS BIGINT) AS n_new FROM fs GROUP BY fmin),
        |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_total FROM fs),
        |base AS (SELECT d.doc_id, COALESCE(per.ns, 0) AS ns, COALESCE(np.n_new, 0) AS n_new
        |         FROM documents d
        |         LEFT JOIN per ON per.doc_id = d.doc_id
        |         LEFT JOIN np ON np.doc_id = d.doc_id),
        |cum AS (SELECT doc_id, ns, n_new,
        |          CAST(SUM(n_new) OVER (ORDER BY doc_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_new
        |        FROM base)
        |SELECT doc_id, ns, n_new, cum_new,
        |  CASE WHEN ns > 0 THEN ${ratio4Sql("n_new", "ns")} ELSE NULL END AS novelty4,
        |  CASE WHEN n_total > 0 THEN ${ratio4Sql("cum_new", "n_total")} ELSE NULL END AS coverage4
        |FROM cum, tot
        |ORDER BY doc_id""".stripMargin,

    // q102: per-dimension stats from exact scaled-integer sums — mean4 via
    // the q55 signed half-up BIGINT division (operands positive inside the
    // CASE arms, so DuckDB's floor-div == Spark's trunc-div); min6/max6 are
    // MIN/MAX over the floor-quantized BIGINTs, reported /1e6.
    "q102_embedding_stats" -> {
      val sc = Vectors.StatScale
      s"""WITH e AS (SELECT vec_id, embedding AS s FROM embeddings),
        |idx AS (SELECT vec_id, s, unnest(generate_series(1, CAST(len(s) AS INTEGER))) AS i FROM e),
        |v AS (SELECT CAST(i AS INTEGER) AS i, CAST(s[i] AS DOUBLE) AS x FROM idx),
        |q AS (SELECT i, CAST(FLOOR(x * $sc) AS BIGINT) AS qx,
        |             CASE WHEN x > 0 THEN 1 ELSE 0 END AS pos1 FROM v),
        |agg AS (SELECT i, CAST(COUNT(*) AS BIGINT) AS n,
        |               CAST(SUM(pos1) AS BIGINT) AS n_pos,
        |               CAST(SUM(qx) AS BIGINT) AS sq,
        |               CAST(MIN(qx) AS BIGINT) AS mnq,
        |               CAST(MAX(qx) AS BIGINT) AS mxq
        |        FROM q GROUP BY i)
        |SELECT i, n, n_pos,
        |  (CASE WHEN sq >= 0 THEN (sq * 10000 + (n * $sc) // 2) // (n * $sc)
        |        ELSE -(((-sq) * 10000 + (n * $sc) // 2) // (n * $sc)) END) / 10000.0 AS mean4,
        |  CAST(mnq AS DOUBLE) / $sc AS min6,
        |  CAST(mxq AS DOUBLE) / $sc AS max6
        |FROM agg
        |ORDER BY i""".stripMargin
    },

    // q103: fixed-width token-count histogram; shares/cumulative shares by
    // exact-integer ratio4; BIGINT floor-div (operands nonnegative, so
    // DuckDB's // == Spark's div).
    "q103_token_histogram" -> {
      val w = Text.HistBinW
      s"""WITH t AS (SELECT CAST(len(string_split(text, ' ')) AS BIGINT) AS nt FROM documents),
        |b AS (SELECT nt // $w AS bin, nt FROM t),
        |agg AS (SELECT bin, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |               CAST(SUM(nt) AS BIGINT) AS sum_tokens
        |        FROM b GROUP BY bin),
        |tot AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS total_docs FROM agg),
        |c AS (SELECT bin, n_docs, sum_tokens,
        |        CAST(SUM(n_docs) OVER (ORDER BY bin
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_docs
        |      FROM agg)
        |SELECT bin, bin * $w AS lo_tokens, bin * $w + ${w - 1} AS hi_tokens,
        |  n_docs, sum_tokens,
        |  ${ratio4Sql("n_docs", "total_docs")} AS share4,
        |  ${ratio4Sql("cum_docs", "total_docs")} AS cum_share4
        |FROM c, tot
        |ORDER BY bin""".stripMargin
    },

    "q104_mutual_knn_clusters" -> mutualKnnSql,

    // q105: interpolated Kneser-Ney over the q64 bigram CTE shape —
    // everything integer over the common denominator 4*c1*n_big
    // (d = 3/4), one ratio4 at the end. SUM(BIGINT) is HUGEINT in
    // DuckDB → cast; the LIMIT happens before the stat joins, as in the
    // engine.
    "q105_kn_bigram_lm" ->
      s"""WITH d AS (SELECT string_split(text, ' ') AS t FROM documents
        |           WHERE len(string_split(text, ' ')) >= 2),
        |bi AS (SELECT
        |         unnest(list_transform(generate_series(1, CAST(len(t) AS INTEGER) - 1),
        |           i -> t[CAST(i AS INTEGER)])) AS w1,
        |         unnest(list_transform(generate_series(1, CAST(len(t) AS INTEGER) - 1),
        |           i -> t[CAST(i + 1 AS INTEGER)])) AS w2
        |       FROM d),
        |c AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c12 FROM bi GROUP BY w1, w2),
        |h AS (SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1,
        |             CAST(COUNT(*) AS BIGINT) AS n1p_head FROM c GROUP BY w1),
        |ct AS (SELECT w2, CAST(COUNT(*) AS BIGINT) AS n1p_cont FROM c GROUP BY w2),
        |nb AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_big FROM c),
        |top AS (SELECT w1, w2, c12 FROM c ORDER BY c12 DESC, w1, w2 LIMIT ${Text.KnTopK})
        |SELECT t.w1, t.w2, t.c12, h.c1, h.n1p_head, ct.n1p_cont, nb.n_big,
        |  ${ratio4Sql("((4 * t.c12 - 3) * nb.n_big + 3 * h.n1p_head * ct.n1p_cont)",
                       "(4 * h.c1 * nb.n_big)")} AS pkn4
        |FROM top t
        |JOIN h ON h.w1 = t.w1
        |JOIN ct ON ct.w2 = t.w2, nb
        |ORDER BY t.c12 DESC, t.w1, t.w2""".stripMargin,

    // q106: per-source exact top terms; rank over the counts table only.
    "q106_source_top_terms" ->
      s"""WITH tok AS (SELECT source, unnest(string_split(text, ' ')) AS token
        |             FROM documents),
        |c AS (SELECT source, token, CAST(COUNT(*) AS BIGINT) AS n
        |      FROM tok GROUP BY source, token),
        |r AS (SELECT source, token, n,
        |        CAST(row_number() OVER (PARTITION BY source ORDER BY n DESC, token) AS INTEGER) AS rk
        |      FROM c)
        |SELECT source, token, n, rk
        |FROM r WHERE rk <= ${Text.SourceTopK}
        |ORDER BY source, rk""".stripMargin,

    // q107: fold-parity sequential sum-of-squares (list_reduce — same
    // order as Spark's aggregate() from 0.0, since 0+x1 == x1 exactly),
    // sqrt of identical doubles, floor-quantize to 1e-6; the deviation
    // score is exact integer |qnorm*n - s|.
    "q107_embedding_outliers" ->
      s"""WITH q AS (SELECT vec_id,
        |    CAST(FLOOR(sqrt(list_reduce(list_transform(embedding,
        |        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a, b) -> a + b)) * 1000000) AS BIGINT) AS qnorm
        |  FROM embeddings),
        |st AS (SELECT CAST(SUM(qnorm) AS BIGINT) AS s, CAST(COUNT(*) AS BIGINT) AS n FROM q)
        |SELECT vec_id, CAST(qnorm AS DOUBLE) / 1000000 AS norm6,
        |       ABS(qnorm * n - s) AS score
        |FROM q, st
        |ORDER BY score DESC, vec_id
        |LIMIT ${Vectors.OutlierTopK}""".stripMargin,

    // q109: each check is one scalar subquery; the embedding dim
    // reference mirrors the engine's max-dim broadcast. Events ts plays
    // no role, so the vintage difference (nanos/micros) cannot matter.
    "q109_dq_audit" -> {
      val types = Quality.EventTypes.map(t => s"'$t'").mkString(", ")
      s"""SELECT * FROM (VALUES
        |  ('customer_orphans',
        |    (SELECT CAST(COUNT(*) AS BIGINT) FROM customer c
        |     WHERE NOT EXISTS (SELECT 1 FROM nation n WHERE n.n_nationkey = c.c_nationkey))),
        |  ('documents_empty_text',
        |    (SELECT CAST(COUNT(*) AS BIGINT) FROM documents
        |     WHERE n_chars <= 0 OR len(text) = 0)),
        |  ('embeddings_dim_drift',
        |    (SELECT CAST(COUNT(*) AS BIGINT) FROM embeddings
        |     WHERE len(embedding) <> (SELECT MAX(len(embedding)) FROM embeddings))),
        |  ('events_null_user',
        |    (SELECT CAST(COUNT(*) AS BIGINT) FROM events WHERE user_id IS NULL)),
        |  ('events_unknown_type',
        |    (SELECT CAST(COUNT(*) AS BIGINT) FROM events
        |     WHERE event_type NOT IN ($types))),
        |  ('lineitem_discount_range',
        |    (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem
        |     WHERE l_discount < 0 OR l_discount > 1)),
        |  ('lineitem_nonpositive_qty',
        |    (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem WHERE l_quantity <= 0)),
        |  ('lineitem_orphans',
        |    (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem l
        |     WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey))),
        |  ('orders_nonpositive_total',
        |    (SELECT CAST(COUNT(*) AS BIGINT) FROM orders WHERE o_totalprice <= 0)),
        |  ('orders_orphans',
        |    (SELECT CAST(COUNT(*) AS BIGINT) FROM orders o
        |     WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)))
        |) AS t(check_name, n_violations)
        |ORDER BY check_name""".stripMargin
    },

    // q131: λ's two lns run on identical BIGINT-ratio doubles, ROUND-6
    // each BEFORE subtracting (q73's pre-round discipline); the per-doc
    // sum folds in position order from a prepended 0.0 seed — the same
    // sequential accumulation Spark's sorted-array aggregate performs.
    "q131_dsir_weights" -> {
      val targets = Sampling.DsirTargetSources.map(s => s"'$s'").mkString(", ")
      s"""WITH d AS (SELECT doc_id, source IN ($targets) AS is_t,
        |            string_split(text, ' ') AS t FROM documents),
        |tok AS (SELECT doc_id, is_t, CAST(i AS INTEGER) - 1 AS pos, t[CAST(i AS INTEGER)] AS token
        |        FROM d, unnest(generate_series(1, CAST(len(t) AS INTEGER))) AS u(i)),
        |c AS (SELECT token,
        |        CAST(SUM(CASE WHEN is_t THEN 1 ELSE 0 END) AS BIGINT) AS ct,
        |        CAST(SUM(CASE WHEN is_t THEN 0 ELSE 1 END) AS BIGINT) AS cr
        |      FROM tok GROUP BY token),
        |tot AS (SELECT CAST(SUM(ct) AS BIGINT) AS nt, CAST(SUM(cr) AS BIGINT) AS nr,
        |          CAST(COUNT(*) AS BIGINT) AS v FROM c),
        |lam AS (SELECT token,
        |          ROUND(ln(CAST(ct + 1 AS DOUBLE) / CAST(nt + v AS DOUBLE)), 6)
        |          - ROUND(ln(CAST(cr + 1 AS DOUBLE) / CAST(nr + v AS DOUBLE)), 6) AS lam
        |        FROM c, tot),
        |agg AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
        |          list_reduce(list_prepend(0.0, array_agg(lam ORDER BY pos)), (a, x) -> a + x) AS sum_lam
        |        FROM tok JOIN lam USING (token) GROUP BY doc_id)
        |SELECT doc_id, n_tokens, ROUND(sum_lam, 4) AS weight,
        |  (ROUND(sum_lam, 4) > 0.0) AS selected
        |FROM agg ORDER BY doc_id""".stripMargin
    },

    // q132: daily means are exact-decimal-sum ÷ count (bit-equal IEEE
    // divisions); BOTH folds (weighted numerator and decayed denominator)
    // run sequentially in day order from a prepended 0.0 seed with
    // β = 0.75 (exactly representable), matching Spark's aggregate() over
    // the sorted prefix slice step for step. Outputs stay UNROUNDED on
    // both engines — there is no libm op in the chain, and ROUND itself
    // is the one hazard (a /8 mean terminates exactly on a 4-dec .5
    // boundary where HALF_UP and float-round disagree).
    "q132_ewma_smoothing" ->
      (eventsCte + s""",
        |daily AS (SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS d,
        |            CAST(COUNT(*) AS BIGINT) AS n,
        |            CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_v
        |          FROM e GROUP BY 1, 2),
        |arr AS (SELECT event_type,
        |          array_agg(struct_pack(d := d, n := n, sum_v := sum_v) ORDER BY d) AS days
        |        FROM daily GROUP BY event_type),
        |pos AS (SELECT event_type, days, unnest(generate_series(1, CAST(len(days) AS INTEGER))) AS p
        |        FROM arr),
        |rw AS (SELECT event_type, days[CAST(p AS INTEGER)].d AS d,
        |          days[CAST(p AS INTEGER)].n AS n,
        |          days[CAST(p AS INTEGER)].sum_v / CAST(days[CAST(p AS INTEGER)].n AS DOUBLE) AS mean_value,
        |          list_transform(days[1:CAST(p AS INTEGER)], s -> s.sum_v / CAST(s.n AS DOUBLE)) AS ms
        |        FROM pos)
        |SELECT event_type, d, n, mean_value,
        |  list_reduce(list_prepend(CAST(0.0 AS DOUBLE), ms), (a, x) -> x + ${Stats.EwmaDecay} * a)
        |  / list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(ms, x -> CAST(1.0 AS DOUBLE))),
        |      (a, x) -> CAST(1.0 AS DOUBLE) + ${Stats.EwmaDecay} * a) AS ewma
        |FROM rw ORDER BY event_type, d""".stripMargin),

    // q133: the spike predicate is pure BIGINT arithmetic on both sides
    // ((D·n − S)² vs Z²·(D·Q − S²)); z is one sqrt of an exact integer
    // (IEEE-correctly-rounded on both engines) and one division of
    // identical operands — bit-identical, so it ships UNROUNDED
    // (q132's ROUND-boundary hazard).
    "q133_spike_detection" ->
      (eventsCte + s""",
        |daily AS (SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS d,
        |            CAST(COUNT(*) AS BIGINT) AS n
        |          FROM e GROUP BY 1, 2),
        |st AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS nd,
        |         CAST(SUM(n) AS BIGINT) AS s, CAST(SUM(n * n) AS BIGINT) AS q
        |       FROM daily GROUP BY event_type)
        |SELECT dy.event_type, dy.d, dy.n,
        |  CASE WHEN st.nd * st.q - st.s * st.s > 0
        |       THEN CAST(st.nd * dy.n - st.s AS DOUBLE)
        |            / sqrt(CAST(st.nd * st.q - st.s * st.s AS DOUBLE))
        |       ELSE NULL END AS z,
        |  (st.nd * st.q - st.s * st.s > 0
        |   AND (st.nd * dy.n - st.s) * (st.nd * dy.n - st.s)
        |       > ${Stats.SpikeZ * Stats.SpikeZ} * (st.nd * st.q - st.s * st.s)) AS spike
        |FROM daily dy JOIN st USING (event_type)
        |ORDER BY dy.event_type, dy.d""".stripMargin),

    // q134: integer numerators + one ratio4 each; the top token is the
    // deterministic (count DESC, token ASC) argmax — row_number here,
    // struct-min in the engine, same total order.
    "q134_token_concentration" ->
      s"""WITH tok AS (SELECT source, unnest(string_split(text, ' ')) AS token FROM documents),
        |c AS (SELECT source, token, CAST(COUNT(*) AS BIGINT) AS c FROM tok GROUP BY 1, 2),
        |r AS (SELECT source, token, c,
        |        ROW_NUMBER() OVER (PARTITION BY source ORDER BY c DESC, token) AS rn
        |      FROM c),
        |agg AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n_tokens,
        |          CAST(COUNT(*) AS BIGINT) AS n_distinct,
        |          CAST(SUM(c * c) AS BIGINT) AS sum_c2
        |        FROM c GROUP BY source)
        |SELECT agg.source, agg.n_tokens, agg.n_distinct, r.token AS top_token,
        |  ${ratio4Sql("r.c", "agg.n_tokens")} AS top_share,
        |  ${ratio4Sql("agg.sum_c2", "agg.n_tokens * agg.n_tokens")} AS hhi
        |FROM agg JOIN r ON r.source = agg.source AND r.rn = 1
        |ORDER BY agg.source""".stripMargin,

    // q135: KS distance computed exactly — cumulative ≤-counts per
    // distinct pooled value (the supremum of step ECDFs is attained
    // there), max |ca·n_b − cb·n_a| as integers, ONE ratio4 at the end.
    "q135_distribution_drift" ->
      (eventsCte + s""",
        |ty AS (SELECT DISTINCT event_type FROM e),
        |pr AS (SELECT a.event_type AS type_a, b.event_type AS type_b
        |       FROM ty a, ty b WHERE a.event_type < b.event_type),
        |mem AS (SELECT type_a, type_b, type_a AS event_type FROM pr
        |        UNION ALL SELECT type_a, type_b, type_b FROM pr),
        |tg AS (SELECT m.type_a, m.type_b, e.value,
        |         CAST(SUM(CASE WHEN e.event_type = m.type_a THEN 1 ELSE 0 END) AS BIGINT) AS ca1,
        |         CAST(SUM(CASE WHEN e.event_type = m.type_b THEN 1 ELSE 0 END) AS BIGINT) AS cb1
        |       FROM e JOIN mem m USING (event_type)
        |       GROUP BY 1, 2, 3),
        |cum AS (SELECT type_a, type_b,
        |          CAST(SUM(ca1) OVER (PARTITION BY type_a, type_b ORDER BY value
        |            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS ca,
        |          CAST(SUM(cb1) OVER (PARTITION BY type_a, type_b ORDER BY value
        |            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cb
        |        FROM tg),
        |tot AS (SELECT type_a, type_b, CAST(SUM(ca1) AS BIGINT) AS n_a,
        |          CAST(SUM(cb1) AS BIGINT) AS n_b
        |        FROM tg GROUP BY 1, 2),
        |k AS (SELECT c.type_a, c.type_b, t.n_a, t.n_b,
        |        MAX(abs(c.ca * t.n_b - c.cb * t.n_a)) AS ks_num
        |      FROM cum c JOIN tot t USING (type_a, type_b)
        |      GROUP BY 1, 2, 3, 4)
        |SELECT type_a, type_b, n_a, n_b,
        |  ${ratio4Sql("ks_num", "n_a * n_b")} AS ks
        |FROM k ORDER BY type_a, type_b""".stripMargin),
  )

  /** q94 oracle: the BPE merge loop unrolled to exactly
    * Tokenize.BpeMerges rounds, assembled programmatically like
    * textRankSql so the round count cannot drift from the Spark side.
    * Every CTE is AS MATERIALIZED: each round references the previous
    * vocabulary state TWICE (pair argmax + rewrite), so DuckDB's default
    * inlining would expand the chain 2^rounds-fold (observed as a
    * too-many-open-files blowup at 16 rounds). The merge rewrite encodes
    * the symbol list as "(s1)(s2)…" and string-replaces "(a)(b)" with
    * "(ab)" — non-overlapping left-to-right, identical to the engine's
    * greedy fold (symbols are corpus characters, so they never contain
    * parentheses and tokens cannot collide across the delimiters). */
  private def bpeSql: String = {
    val union = (1 to Tokenize.BpeMerges)
      .map(r => s"SELECT $r AS rule_id, a, b, a || b AS merged, cnt FROM b$r")
      .mkString("\n", "\nUNION ALL\n", "\n")
    s"$bpeChainCtes\nSELECT * FROM ($union) ORDER BY rule_id"
  }

  /** The q94 learn chain (v0 … v{BpeMerges}, b1 … b{BpeMerges}) shared
    * by the q94 rule dump and the q111 encode audit: v{BpeMerges} IS
    * "every distinct word encoded with the learned table" — the engine's
    * encode-replays-the-learner law, used as the oracle's shortcut. */
  private def bpeChainCtes: String = {
    val sb = new StringBuilder
    sb.append(
      """WITH v0 AS MATERIALIZED (
        |  SELECT token, COUNT(*) AS freq,
        |         list_transform(generate_series(1, CAST(len(token) AS INTEGER)),
        |                        i -> token[CAST(i AS INTEGER)]) AS seq
        |  FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
        |  GROUP BY token)""".stripMargin)
    for (r <- 1 to Tokenize.BpeMerges) {
      sb.append(
        s""",
          |b$r AS MATERIALIZED (
          |  SELECT seq[CAST(i AS INTEGER)] AS a, seq[CAST(i AS INTEGER) + 1] AS b,
          |         CAST(SUM(freq) AS BIGINT) AS cnt
          |  FROM v${r - 1}, unnest(generate_series(1, CAST(len(seq) AS INTEGER) - 1)) AS u(i)
          |  GROUP BY a, b ORDER BY cnt DESC, a, b LIMIT 1),
          |v$r AS MATERIALIZED (
          |  SELECT token, freq,
          |         string_split(trim(replace('(' || array_to_string(seq, ')(') || ')',
          |           '(' || a || ')(' || b || ')', '(' || a || b || ')'), '()'), ')(') AS seq
          |  FROM v${r - 1} CROSS JOIN b$r)""".stripMargin)
    }
    sb.toString
  }

  /** q111 oracle: per-source stats over the final vocabulary state — the
    * oracle-side form of "encoding the corpus is the learner's last
    * rewrite". Word counts re-derive per (source, token) so a word's
    * symbol count multiplies by its occurrences exactly as the engine's
    * vocab-encode + count join does. */
  private def bpeEncodeSql: String =
    s"""$bpeChainCtes,
       |pw AS (SELECT source, token, COUNT(*) AS cnt
       |       FROM (SELECT source, unnest(string_split(text, ' ')) AS token
       |             FROM documents)
       |       WHERE len(token) >= 1
       |       GROUP BY source, token)
       |SELECT source, n_words, n_chars, n_tokens,
       |       ${ratio4Sql("n_chars", "n_tokens")} AS cpt4
       |FROM (SELECT source,
       |        CAST(SUM(cnt) AS BIGINT) AS n_words,
       |        CAST(SUM(cnt * len(token)) AS BIGINT) AS n_chars,
       |        CAST(SUM(cnt * len(seq)) AS BIGINT) AS n_tokens
       |      FROM pw JOIN v${Tokenize.BpeMerges} USING (token)
       |      GROUP BY source)
       |ORDER BY source""".stripMargin

  /** q92 oracle body through `agg` (per-doc BM25 sums) — shared with the
    * q95 eval, which re-ranks the same 15-row result. Every float literal
    * is interpolated from the SAME Scala constants the engine uses. */
  private def bm25Ctes: String =
    s"""dl AS (SELECT doc_id, len(string_split(text, ' ')) AS dl FROM documents),
       |corpus AS (SELECT COUNT(*) AS n_docs, CAST(SUM(dl) AS BIGINT) AS total_dl FROM dl),
       |tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
       |tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM tok
       |       WHERE token IN (${Text.Bm25Query.map(t => s"'$t'").mkString(", ")})
       |       GROUP BY doc_id, token),
       |dfreq AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY token),
       |terms AS (SELECT tf.doc_id, tf.token,
       |    ROUND(ln(1.0 + (CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5) / (CAST(df AS DOUBLE) + 0.5)) *
       |      ((CAST(tf AS DOUBLE) * ${Text.Bm25K1 + 1.0}) /
       |       (CAST(tf AS DOUBLE) + ${Text.Bm25K1} * (1.0 - ${Text.Bm25B} + ${Text.Bm25B} * CAST(dl AS DOUBLE) /
       |        (CAST(total_dl AS DOUBLE) / CAST(n_docs AS DOUBLE))))), 6) AS s
       |  FROM tf JOIN dfreq USING (token) JOIN dl USING (doc_id), corpus),
       |agg AS (SELECT doc_id, COUNT(*) AS n_hit,
       |          list_reduce(list_prepend(0.0, array_agg(s ORDER BY token)), (p, q) -> p + q) AS sum_s
       |        FROM terms GROUP BY doc_id)""".stripMargin

  // q92: every float literal is interpolated from the SAME Scala
  // constants the engine uses (so both engines parse the identical
  // double), association is pinned left-to-right term-for-term, each
  // per-term score is ROUND-6'd before the token-ordered fold (q73
  // posture), and the sum is ROUND-4.
  private def bm25Sql: String =
    s"""WITH $bm25Ctes
       |SELECT doc_id, n_hit, ROUND(sum_s, 4) AS bm25
       |FROM agg ORDER BY bm25 DESC, doc_id LIMIT ${Text.Bm25TopK}""".stripMargin

  /** q148: both lists mirror their parent queries (the BM25 chain
    * verbatim; the q31 cosine widened to HybridTopK), ranks assigned over
    * the LIMIT-bounded lists, and the fused score is DuckDB's exact
    * integer floor division `//` — the engine computes the identical
    * integer by mod-reducing the numerator before one exact double
    * division (RetrievalEval.q148's term()). */
  private def hybridRrfSql: String = {
    import RetrievalEval.{HybridOutK, HybridTopK, RrfK, RrfScale}
    s"""WITH $bm25Ctes,
       |lexlist AS (SELECT doc_id, ROUND(sum_s, 4) AS bm25
       |            FROM agg ORDER BY bm25 DESC, doc_id LIMIT $HybridTopK),
       |lex AS (SELECT doc_id,
       |          CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id) AS INT) AS lex_rank
       |        FROM lexlist),
       |q AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0),
       |semlist AS (SELECT e.vec_id AS doc_id,
       |    ROUND(
       |      list_sum(list_transform(range(1, CAST(len(e.embedding) AS INTEGER) + 1),
       |        i -> CAST(e.embedding[i] AS DOUBLE) * CAST(q.qvec[i] AS DOUBLE)))
       |      / (sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
       |       * sqrt(list_sum(list_transform(q.qvec, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 4) AS sim
       |  FROM embeddings e, q
       |  WHERE e.vec_id <> 0
       |  ORDER BY sim DESC, doc_id LIMIT $HybridTopK),
       |sem AS (SELECT doc_id,
       |          CAST(row_number() OVER (ORDER BY sim DESC, doc_id) AS INT) AS sem_rank
       |        FROM semlist)
       |SELECT doc_id,
       |  COALESCE(lex_rank, 0) AS lex_rank,
       |  COALESCE(sem_rank, 0) AS sem_rank,
       |  (CASE WHEN COALESCE(lex_rank, 0) > 0
       |        THEN $RrfScale // ($RrfK + lex_rank) ELSE 0 END
       | + CASE WHEN COALESCE(sem_rank, 0) > 0
       |        THEN $RrfScale // ($RrfK + sem_rank) ELSE 0 END) AS rrf
       |FROM lex FULL OUTER JOIN sem USING (doc_id)
       |ORDER BY rrf DESC, doc_id LIMIT $HybridOutK""".stripMargin
  }

  /** The Morton mask-shift ladder as SQL text — the same masks, in the
    * same order, as Layout.spread16's Column ladder. */
  private def spreadSql(e: String): String = {
    val v0 = s"(($e) & 65535)"
    val v1 = s"(($v0 | ($v0 << 8)) & 16711935)"
    val v2 = s"(($v1 | ($v1 << 4)) & 252645135)"
    val v3 = s"(($v2 | ($v2 << 2)) & 858993459)"
    s"(($v3 | ($v3 << 1)) & 1431655765)"
  }

  /** Shared q149/q150 kernel: orders → quantized Morton key → bucket. */
  private def zorderCtes: String = {
    import ZOrder.{ZBucketBits, ZDimBits, ZDimMax}
    val shift = 2 * ZDimBits - ZBucketBits
    def quant(v: String, lo: String, hi: String): String =
      s"((($v - $lo) * $ZDimMax) // greatest($hi - $lo, 1))"
    val xq = quant("ck", "lo_ck", "hi_ck")
    val yq = quant("day", "lo_day", "hi_day")
    s"""o AS (SELECT o_custkey AS ck,
       |    CAST(date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS day
       |  FROM orders),
       |dom AS (SELECT min(ck) AS lo_ck, max(ck) AS hi_ck,
       |               min(day) AS lo_day, max(day) AS hi_day FROM o),
       |z AS (SELECT ck, day,
       |        ((${spreadSql(xq)} | (${spreadSql(yq)} << 1)) >> $shift) AS bucket
       |      FROM o, dom)""".stripMargin
  }

  private def zorderSql: String = {
    import ZOrder.{RectCkHi, RectCkLo, RectDayHi, RectDayLo}
    s"""WITH $zorderCtes
       |SELECT bucket, COUNT(*) AS n,
       |       min(ck) AS min_ck, max(ck) AS max_ck,
       |       min(day) AS min_day, max(day) AS max_day,
       |       NOT (max(ck) < $RectCkLo OR min(ck) > $RectCkHi
       |         OR max(day) < $RectDayLo OR min(day) > $RectDayHi) AS would_scan
       |FROM z GROUP BY bucket ORDER BY bucket""".stripMargin
  }

  // q150: DuckDB's window SUM over BIGINT returns HUGEINT — cast before
  // the integer division; `//` floors on non-negative cumsums exactly
  // like the engine's mod-reduced exact division.
  // q151: calendar join (a.d = b.d + lag), not a row-offset lag — a gap
  // day simply isn't scored; all-integer until the two ratio4 mirrors.
  private def seasonalSql: String = {
    import graft.queries.Stats.SeasonLagDays
    (eventsCte + s""",
      |daily AS (SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS d,
      |            CAST(COUNT(*) AS BIGINT) AS n
      |          FROM e GROUP BY 1, 2),
      |j AS (SELECT a.event_type, a.n, abs(a.n - b.n) AS err
      |      FROM daily a JOIN daily b
      |        ON a.event_type = b.event_type AND a.d = b.d + $SeasonLagDays)
      |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days,
      |       CAST(SUM(n) AS BIGINT) AS total_actual,
      |       CAST(SUM(err) AS BIGINT) AS total_abs_err,
      |       ${ratio4Sql("CAST(SUM(err) AS BIGINT)", "COUNT(*)")} AS mae4,
      |       CASE WHEN SUM(n) > 0
      |            THEN ${ratio4Sql("CAST(SUM(err) AS BIGINT)", "CAST(SUM(n) AS BIGINT)")}
      |            ELSE NULL END AS wape4
      |FROM j GROUP BY event_type ORDER BY event_type""".stripMargin)
  }

  // q159: first/last mirrored as rank-1 rows of the same (ts, event_id)
  // total order the engine's min/max-over-struct uses — conditional MAX
  // over the single rank-1 value per direction; volume is the dsum mirror.
  private def ohlcSql: String =
    (eventsCte + """,
      |b AS (SELECT event_type, date_trunc('hour', ts) AS bar_ts, ts, event_id, value FROM e),
      |r AS (SELECT *,
      |        row_number() OVER (PARTITION BY event_type, bar_ts ORDER BY ts, event_id) AS rn_o,
      |        row_number() OVER (PARTITION BY event_type, bar_ts ORDER BY ts DESC, event_id DESC) AS rn_c
      |      FROM b)
      |SELECT event_type, bar_ts,
      |       MAX(CASE WHEN rn_o = 1 THEN value END) AS open_v,
      |       MAX(value) AS high_v, MIN(value) AS low_v,
      |       MAX(CASE WHEN rn_c = 1 THEN value END) AS close_v,
      |       COUNT(*) AS n_events,
      |       CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS volume
      |FROM r GROUP BY event_type, bar_ts
      |ORDER BY event_type, bar_ts""".stripMargin)

  // q161: the dense calendar is generate_series over the global day span
  // (timestamps in DuckDB — cast back to DATE); the trailing MA divides
  // window-exact integers through the ratio4 mirror, with the window's own
  // row count as the left-edge denominator.
  private def calendarFillSql: String = {
    import graft.queries.Stats.FillMaDays
    val w = s"OVER (PARTITION BY event_type ORDER BY d ROWS BETWEEN ${FillMaDays - 1} PRECEDING AND CURRENT ROW)"
    (eventsCte + s""",
      |daily AS (SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS d,
      |            CAST(COUNT(*) AS BIGINT) AS n
      |          FROM e GROUP BY 1, 2),
      |span AS (SELECT MIN(d) AS d0, MAX(d) AS d1 FROM daily),
      |cal AS (SELECT t.event_type, CAST(unnest(generate_series(CAST(s.d0 AS TIMESTAMP),
      |               CAST(s.d1 AS TIMESTAMP), INTERVAL 1 DAY)) AS DATE) AS d
      |        FROM (SELECT DISTINCT event_type FROM daily) t, span s),
      |dense AS (SELECT c.event_type, c.d,
      |            COALESCE(dl.n, CAST(0 AS BIGINT)) AS n,
      |            dl.n IS NOT NULL AS observed
      |          FROM cal c LEFT JOIN daily dl
      |            ON c.event_type = dl.event_type AND c.d = dl.d)
      |SELECT event_type, d, n, observed,
      |       ${ratio4Sql(s"CAST(SUM(n) $w AS BIGINT)", s"COUNT(*) $w")} AS ma4
      |FROM dense ORDER BY event_type, d""".stripMargin)
  }

  // q162: DISC medians read off per-type value histograms (smallest v with
  // 2*cum >= N — q156's quantile discipline at k = 2); DuckDB's window SUM
  // over BIGINT returns HUGEINT, cast back before the *2 comparison. The
  // fence is all-integer.
  private def madOutliersSql: String = {
    import graft.queries.Stats.MadFenceK
    (eventsCte + s""",
      |daily AS (SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS d,
      |            CAST(COUNT(*) AS BIGINT) AS n
      |          FROM e GROUP BY 1, 2),
      |tot AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days FROM daily GROUP BY 1),
      |h1 AS (SELECT event_type, n, COUNT(*) AS c FROM daily GROUP BY 1, 2),
      |c1 AS (SELECT event_type, n,
      |         CAST(SUM(c) OVER (PARTITION BY event_type ORDER BY n) AS BIGINT) AS cum
      |       FROM h1),
      |med AS (SELECT c1.event_type, MIN(n) AS med
      |        FROM c1 JOIN tot ON c1.event_type = tot.event_type
      |        WHERE cum * 2 >= n_days GROUP BY 1),
      |dev AS (SELECT daily.event_type, d, n, med, ABS(n - med) AS dv
      |        FROM daily JOIN med ON daily.event_type = med.event_type),
      |h2 AS (SELECT event_type, dv, COUNT(*) AS c FROM dev GROUP BY 1, 2),
      |c2 AS (SELECT event_type, dv,
      |         CAST(SUM(c) OVER (PARTITION BY event_type ORDER BY dv) AS BIGINT) AS cum
      |       FROM h2),
      |mad AS (SELECT c2.event_type, MIN(dv) AS mad
      |        FROM c2 JOIN tot ON c2.event_type = tot.event_type
      |        WHERE cum * 2 >= n_days GROUP BY 1)
      |SELECT dev.event_type, d, n, med, mad, dv > $MadFenceK * mad AS outlier
      |FROM dev JOIN mad ON dev.event_type = mad.event_type
      |ORDER BY dev.event_type, d""".stripMargin)
  }

  // q189: Theil–Sen — the pairwise-slope self-join on the daily panel,
  // each slope ONE double division of exact integers (the kernel scaladoc's
  // bounded-denominator argument makes the double a canonical key), DISC
  // median via the q162 histogram discipline. Slopes ship unrounded.
  private def theilSenSql: String =
    (eventsCte + s""",
      |daily AS (SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS d,
      |            CAST(COUNT(*) AS BIGINT) AS n
      |          FROM e GROUP BY 1, 2),
      |pr AS (SELECT a.event_type,
      |         CAST(b.n - a.n AS DOUBLE) / CAST(datediff('day', a.d, b.d) AS DOUBLE) AS s
      |       FROM daily a JOIN daily b
      |         ON a.event_type = b.event_type AND b.d > a.d),
      |tot AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_pairs FROM pr GROUP BY 1),
      |h AS (SELECT event_type, s, COUNT(*) AS c FROM pr GROUP BY 1, 2),
      |cc AS (SELECT event_type, s,
      |         CAST(SUM(c) OVER (PARTITION BY event_type ORDER BY s) AS BIGINT) AS cum
      |       FROM h),
      |med AS (SELECT cc.event_type, MIN(s) AS slope
      |        FROM cc JOIN tot ON cc.event_type = tot.event_type
      |        WHERE cum * 2 >= n_pairs GROUP BY 1),
      |nd AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days FROM daily GROUP BY 1)
      |SELECT nd.event_type, n_days, n_pairs, slope
      |FROM nd JOIN tot ON nd.event_type = tot.event_type
      |JOIN med ON nd.event_type = med.event_type
      |ORDER BY nd.event_type""".stripMargin)

  // q190: Kendall tau-a — inner day alignment, strict-sign concordance
  // (no products, no overflow class), all-integer until the one mirrored
  // ratio4 quotient.
  private def kendallSql: String =
    (eventsCte + s""",
      |daily AS (SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS d,
      |            CAST(COUNT(*) AS BIGINT) AS n
      |          FROM e GROUP BY 1, 2),
      |al AS (SELECT x.event_type AS type_a, y.event_type AS type_b, x.d AS d,
      |         x.n AS na, y.n AS nb
      |       FROM daily x JOIN daily y
      |         ON x.d = y.d AND x.event_type < y.event_type),
      |ndx AS (SELECT type_a, type_b, CAST(COUNT(*) AS BIGINT) AS n_days
      |        FROM al GROUP BY 1, 2),
      |dp AS (SELECT i.type_a, i.type_b,
      |         CASE WHEN (j.na > i.na AND j.nb > i.nb) OR (j.na < i.na AND j.nb < i.nb)
      |              THEN 1 ELSE 0 END AS c,
      |         CASE WHEN (j.na > i.na AND j.nb < i.nb) OR (j.na < i.na AND j.nb > i.nb)
      |              THEN 1 ELSE 0 END AS dd
      |       FROM al i JOIN al j
      |         ON i.type_a = j.type_a AND i.type_b = j.type_b AND j.d > i.d),
      |agg AS (SELECT type_a, type_b, CAST(COUNT(*) AS BIGINT) AS n_pairs,
      |          CAST(SUM(c) AS BIGINT) AS nc, CAST(SUM(dd) AS BIGINT) AS nd
      |        FROM dp GROUP BY 1, 2)
      |SELECT agg.type_a, agg.type_b, n_days, n_pairs, nc, nd,
      |       ${ratio4Sql("nc - nd", "n_pairs")} AS tau4
      |FROM agg JOIN ndx ON agg.type_a = ndx.type_a AND agg.type_b = ndx.type_b
      |ORDER BY agg.type_a, agg.type_b""".stripMargin)

  // q191: Mann–Kendall — S and the tie-corrected 18·Var as exact integers,
  // the 95% decision as the squared continuity-corrected fence (q165's
  // no-sqrt discipline); squared products in HUGEINT mirroring the
  // engine's DECIMAL(38,0).
  private def mannKendallSql: String =
    (eventsCte + s""",
      |daily AS (SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS d,
      |            CAST(COUNT(*) AS BIGINT) AS n
      |          FROM e GROUP BY 1, 2),
      |pr AS (SELECT a.event_type,
      |         CASE WHEN b.n > a.n THEN 1 WHEN b.n < a.n THEN -1 ELSE 0 END AS sg
      |       FROM daily a JOIN daily b
      |         ON a.event_type = b.event_type AND b.d > a.d),
      |s AS (SELECT event_type, CAST(SUM(sg) AS BIGINT) AS s_stat FROM pr GROUP BY 1),
      |tg AS (SELECT event_type, n, CAST(COUNT(*) AS BIGINT) AS t FROM daily GROUP BY 1, 2),
      |tz AS (SELECT event_type, CAST(SUM(t*(t-1)*(2*t+5)) AS BIGINT) AS tt,
      |         CAST(SUM(t) AS BIGINT) AS n_days
      |       FROM tg GROUP BY 1),
      |v AS (SELECT tz.event_type, n_days, s_stat,
      |        n_days*(n_days-1)*(2*n_days+5) - tt AS var18
      |      FROM tz JOIN s ON tz.event_type = s.event_type),
      |w AS (SELECT event_type, n_days, s_stat, var18,
      |        (ABS(s_stat) > 1 AND
      |         CAST(ABS(s_stat)-1 AS HUGEINT)*(ABS(s_stat)-1)*180000 >
      |           CAST(var18 AS HUGEINT)*38416) AS trending
      |      FROM v)
      |SELECT event_type, n_days, s_stat, var18, trending,
      |       CASE WHEN trending AND s_stat > 0 THEN 'up'
      |            WHEN trending AND s_stat < 0 THEN 'down'
      |            ELSE 'none' END AS direction
      |FROM w ORDER BY event_type""".stripMargin)

  // q160: the pair self-join and both rule statistics mirrored literally;
  // DuckDB counts are BIGINT already, and the lift mirror is the shared
  // ratio4 form (ratio4dec's scaladoc: identical wherever both are exact —
  // the count products stay far inside 2^53 at oracle scales).
  private def basketSql: String =
    s"""WITH ob AS (SELECT DISTINCT l_orderkey AS okey, p_brand AS brand
       |            FROM lineitem JOIN part ON l_partkey = p_partkey),
       |tot AS (SELECT COUNT(DISTINCT okey) AS n_orders FROM ob),
       |per AS (SELECT brand, CAST(COUNT(*) AS BIGINT) AS n_single FROM ob GROUP BY 1),
       |pr AS (SELECT a.brand AS brand_a, b.brand AS brand_b, CAST(COUNT(*) AS BIGINT) AS n_ab
       |       FROM ob a JOIN ob b ON a.okey = b.okey AND a.brand < b.brand
       |       GROUP BY 1, 2)
       |SELECT brand_a, brand_b, n_ab, pa.n_single AS n_a, pb.n_single AS n_b,
       |       ${ratio4Sql("n_ab", "pa.n_single")} AS conf4,
       |       ${ratio4Sql("n_ab * n_orders", "pa.n_single * pb.n_single")} AS lift4
       |FROM pr
       |JOIN per pa ON pr.brand_a = pa.brand
       |JOIN per pb ON pr.brand_b = pb.brand
       |CROSS JOIN tot
       |ORDER BY brand_a, brand_b""".stripMargin

  // q163: the oracle mirrors the same domain reduction the engine runs
  // (provably equal to the pairwise NOT EXISTS: any same-qty competitor is
  // dominated by its qty's min-price point, and a candidate survives iff no
  // higher-qty candidate has price <= its own).
  private def skylineSql: String =
    s"""WITH g AS (SELECT l_quantity AS qty, l_extendedprice AS price,
       |             CAST(COUNT(*) AS BIGINT) AS n
       |           FROM lineitem GROUP BY 1, 2),
       |b AS (SELECT qty, MIN(price) AS best_price FROM g GROUP BY 1),
       |bn AS (SELECT b.qty, b.best_price, g.n AS n_best
       |       FROM b JOIN g ON g.qty = b.qty AND g.price = b.best_price),
       |f AS (SELECT qty, best_price, n_best,
       |        MIN(best_price) OVER (ORDER BY qty DESC
       |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS runmin
       |      FROM bn)
       |SELECT qty, best_price, n_best
       |FROM f WHERE runmin IS NULL OR best_price < runmin
       |ORDER BY qty""".stripMargin

  // q164: Nelson–Aalen over the duration histogram — at-risk counts as a
  // REVERSE cumulative window, hazard increments kept integer (the ratio4
  // quotient before its final /10^4) so the cumulative hazard is an exact
  // integer sum; DuckDB window SUMs over BIGINT return HUGEINT → cast.
  private def survivalSql: String =
    (eventsCte + """,
      |per AS (SELECT user_id, MIN(ts) AS t0,
      |          MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS tp,
      |          MAX(ts) AS tend
      |        FROM e GROUP BY user_id),
      |dur AS (SELECT CASE WHEN tp IS NOT NULL
      |            THEN date_diff('day', CAST(t0 AS DATE), CAST(tp AS DATE))
      |            ELSE date_diff('day', CAST(t0 AS DATE), CAST(tend AS DATE)) END AS t_days,
      |          tp IS NOT NULL AS conv
      |        FROM per),
      |h AS (SELECT t_days, CAST(COUNT(*) AS BIGINT) AS n_all,
      |        CAST(SUM(CASE WHEN conv THEN 1 ELSE 0 END) AS BIGINT) AS n_conv
      |      FROM dur GROUP BY t_days),
      |r AS (SELECT t_days, n_conv,
      |        CAST(SUM(n_all) OVER (ORDER BY t_days
      |          ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS BIGINT) AS n_risk
      |      FROM h),
      |q AS (SELECT t_days, n_risk, n_conv,
      |        CAST(FLOOR((n_conv * 20000.0 + n_risk) / (n_risk * 2.0)) AS BIGINT) AS hq
      |      FROM r WHERE n_conv > 0)
      |SELECT CAST(t_days AS INTEGER) AS t_days, n_risk, n_conv,
      |       hq / 10000.0 AS hazard4,
      |       CAST(SUM(hq) OVER (ORDER BY t_days) AS BIGINT) / 10000.0 AS cumhaz4
      |FROM q ORDER BY t_days""".stripMargin)

  // q165: the 2x2 chi-square in exact HUGEINT cross-products (the engine's
  // DECIMAL(38,0) carrier); the significance fence and the ratio4dec
  // quotient both mirror in integer arithmetic, so the verdict cannot
  // wobble. Zero margins -> NULL chi2, not significant.
  private def abChisqSql: String = {
    import graft.queries.Stats.ChisqCrit10k
    (eventsCte + s""",
      |per AS (SELECT user_id, MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
      |        FROM e GROUP BY user_id),
      |v AS (SELECT (user_id % 2 + 2) % 2 AS variant, conv FROM per),
      |c AS (SELECT CAST(SUM(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
      |             CAST(SUM(CASE WHEN variant = 0 THEN conv ELSE 0 END) AS BIGINT) AS conv_a,
      |             CAST(SUM(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
      |             CAST(SUM(CASE WHEN variant = 1 THEN conv ELSE 0 END) AS BIGINT) AS conv_b
      |      FROM v),
      |x AS (SELECT *,
      |        CAST(conv_a AS HUGEINT) * (n_b - conv_b)
      |          - CAST(n_a - conv_a AS HUGEINT) * conv_b AS adbc
      |      FROM c),
      |y AS (SELECT *, CAST(n_a + n_b AS HUGEINT) * adbc * adbc AS num,
      |        CAST(n_a AS HUGEINT) * n_b * (conv_a + conv_b)
      |          * (n_a + n_b - conv_a - conv_b) AS den
      |      FROM x)
      |SELECT n_a, conv_a, n_b, conv_b,
      |  CASE WHEN n_a > 0 THEN ${ratio4Sql("conv_a", "n_a")} END AS cr_a4,
      |  CASE WHEN n_b > 0 THEN ${ratio4Sql("conv_b", "n_b")} END AS cr_b4,
      |  CASE WHEN den > 0
      |       THEN CAST((num * 20000 + den) // (den * 2) AS DOUBLE) / 10000.0 END AS chi2_4,
      |  (den > 0 AND num * 10000 > $ChisqCrit10k * den) AS significant
      |FROM y""".stripMargin)
  }

  // q166: CUSUM deviations in exact HUGEINT (|D*prefix - k*S|), argmax via
  // (dev DESC, d) row_number — the engine's min-over-(-dev, d) struct; the
  // peak re-emerges as BIGINT at the output seam (dev ≤ n_days·total keeps
  // it in long range; HUGEINT stays internal), and the scaled statistic is
  // the HUGEINT `//` ratio4dec mirror.
  private def cusumSql: String =
    (eventsCte + """,
      |daily AS (SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS d,
      |            CAST(COUNT(*) AS BIGINT) AS n
      |          FROM e GROUP BY 1, 2),
      |p AS (SELECT event_type, d,
      |        CAST(SUM(n) OVER (PARTITION BY event_type ORDER BY d) AS HUGEINT) AS prefix,
      |        CAST(COUNT(*) OVER (PARTITION BY event_type ORDER BY d) AS HUGEINT) AS k
      |      FROM daily),
      |t AS (SELECT event_type, CAST(COUNT(*) AS HUGEINT) AS n_days,
      |        CAST(SUM(n) AS HUGEINT) AS total
      |      FROM daily GROUP BY 1),
      |dv AS (SELECT p.event_type, d, n_days, total,
      |         ABS(n_days * prefix - k * total) AS dev
      |       FROM p JOIN t ON p.event_type = t.event_type),
      |r AS (SELECT *, row_number() OVER (PARTITION BY event_type ORDER BY dev DESC, d) AS rn
      |      FROM dv)
      |SELECT event_type, CAST(n_days AS BIGINT) AS n_days, CAST(total AS BIGINT) AS total,
      |       d AS change_d, CAST(dev AS BIGINT) AS peak_dev,
      |       CASE WHEN total > 0
      |            THEN CAST((dev * 20000 + n_days * total) // (n_days * total * 2) AS DOUBLE)
      |                   / 10000.0 END AS stat4
      |FROM r WHERE rn = 1 ORDER BY event_type""".stripMargin)

  // q167: the Holt recursion stepped by a recursive CTE in day-rank order
  // — the same left-to-right IEEE fold the engine's struct-accumulator
  // aggregate runs; the new level inside the trend update is recomputed as
  // the textually identical expression (IEEE determinism makes recompute
  // equal reuse bit-for-bit).
  private def holtSql: String = {
    import graft.queries.Stats.{HoltAlpha, HoltBeta}
    val a = HoltAlpha; val b = HoltBeta
    val lNew = s"$a * dd.m + ${1 - a} * (rec.level + rec.trend)"
    s"""WITH RECURSIVE
       |e AS (SELECT CAST(ts AS TIMESTAMP) AS ts, event_type, value FROM events),
       |daily AS (SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS d,
       |            CAST(COUNT(*) AS BIGINT) AS n,
       |            CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_v
       |          FROM e GROUP BY 1, 2),
       |dd AS (SELECT event_type, d, n, sum_v / CAST(n AS DOUBLE) AS m,
       |         CAST(row_number() OVER (PARTITION BY event_type ORDER BY d) AS INTEGER) AS k
       |       FROM daily),
       |rec AS (
       |  SELECT event_type, k, d, n, m, m AS level, CAST(0.0 AS DOUBLE) AS trend
       |  FROM dd WHERE k = 1
       |  UNION ALL
       |  SELECT dd.event_type, dd.k, dd.d, dd.n, dd.m,
       |         $lNew AS level,
       |         $b * (($lNew) - rec.level) + ${1 - b} * rec.trend AS trend
       |  FROM rec JOIN dd ON dd.event_type = rec.event_type AND dd.k = rec.k + 1)
       |SELECT event_type, d, n, m AS mean_value, level, trend,
       |       level + trend AS forecast_next
       |FROM rec ORDER BY event_type, d""".stripMargin
  }

  // q168: DISC quartiles off per-type cent histograms (q156's discipline at
  // k = 4); the 1.5*IQR fences multiply through by 2 to stay integer; all
  // window/group sums cast back from HUGEINT.
  private def iqrSql: String =
    (eventsCte + """,
      |h AS (SELECT event_type, CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents,
      |        CAST(COUNT(*) AS BIGINT) AS cnt
      |      FROM e GROUP BY 1, 2),
      |tot AS (SELECT event_type, CAST(SUM(cnt) AS BIGINT) AS n FROM h GROUP BY 1),
      |cum AS (SELECT h.event_type, cents, cnt, n,
      |          CAST(SUM(cnt) OVER (PARTITION BY h.event_type ORDER BY cents) AS BIGINT) AS cum
      |        FROM h JOIN tot ON h.event_type = tot.event_type),
      |q1 AS (SELECT event_type, MIN(cents) AS q1_c FROM cum WHERE cum * 4 >= n GROUP BY 1),
      |q2 AS (SELECT event_type, MIN(cents) AS med_c FROM cum WHERE cum * 4 >= n * 2 GROUP BY 1),
      |q3 AS (SELECT event_type, MIN(cents) AS q3_c FROM cum WHERE cum * 4 >= n * 3 GROUP BY 1)
      |SELECT h.event_type, MAX(n) AS n, MAX(q1_c) AS q1_c, MAX(med_c) AS med_c,
      |       MAX(q3_c) AS q3_c, MAX(q3_c) - MAX(q1_c) AS iqr_c,
      |       CAST(SUM(CASE WHEN cents * 2 < q1_c * 2 - (q3_c - q1_c) * 3
      |                     THEN cnt ELSE 0 END) AS BIGINT) AS n_low,
      |       CAST(SUM(CASE WHEN cents * 2 > q3_c * 2 + (q3_c - q1_c) * 3
      |                     THEN cnt ELSE 0 END) AS BIGINT) AS n_high
      |FROM h
      |JOIN tot ON h.event_type = tot.event_type
      |JOIN q1 ON h.event_type = q1.event_type
      |JOIN q2 ON h.event_type = q2.event_type
      |JOIN q3 ON h.event_type = q3.event_type
      |GROUP BY h.event_type
      |ORDER BY h.event_type""".stripMargin)

  // q188: median + MAD off the same per-type cent histograms — q168's
  // DISC attained-value rule (2·cum >= n) applied twice: to the cent
  // histogram for the median, then to the derived |cents − med|
  // deviation histogram for the MAD; the 3·MAD robust-outlier count is
  // an integer conditional sum. All BIGINT (no ratios in this panel).
  private def madSql: String =
    (eventsCte + """,
      |h AS (SELECT event_type, CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents,
      |        CAST(COUNT(*) AS BIGINT) AS cnt
      |      FROM e GROUP BY 1, 2),
      |tot AS (SELECT event_type, CAST(SUM(cnt) AS BIGINT) AS n FROM h GROUP BY 1),
      |cum AS (SELECT h.event_type, cents, cnt, n,
      |          CAST(SUM(cnt) OVER (PARTITION BY h.event_type ORDER BY cents) AS BIGINT) AS cum
      |        FROM h JOIN tot ON h.event_type = tot.event_type),
      |med AS (SELECT event_type, MIN(cents) AS med_c FROM cum WHERE cum * 2 >= n GROUP BY 1),
      |dev AS (SELECT h.event_type, abs(cents - med_c) AS dv, CAST(SUM(cnt) AS BIGINT) AS cnt
      |        FROM h JOIN med ON h.event_type = med.event_type GROUP BY 1, 2),
      |cumd AS (SELECT dev.event_type, dv, dev.cnt, n,
      |           CAST(SUM(dev.cnt) OVER (PARTITION BY dev.event_type ORDER BY dv) AS BIGINT) AS cum
      |         FROM dev JOIN tot ON dev.event_type = tot.event_type),
      |mad AS (SELECT event_type, MIN(dv) AS mad_c FROM cumd WHERE cum * 2 >= n GROUP BY 1)
      |SELECT h.event_type, CAST(SUM(cnt) AS BIGINT) AS n, MAX(med_c) AS med_c,
      |       MAX(mad_c) AS mad_c,
      |       CAST(SUM(CASE WHEN abs(cents - med_c) > mad_c * 3
      |                     THEN cnt ELSE 0 END) AS BIGINT) AS n_far
      |FROM h
      |JOIN med ON h.event_type = med.event_type
      |JOIN mad ON h.event_type = mad.event_type
      |GROUP BY h.event_type
      |ORDER BY h.event_type""".stripMargin)

  // q182: winsorized stats off the same per-type cent histograms — DISC
  // p05/p95 (20·cum >= k·n), integer clamp, exact long winsorized sum,
  // and the ratio4 mirror for the 4-dec mean.
  private def winsorizedSql: String =
    (eventsCte + s""",
      |h AS (SELECT event_type, CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents,
      |        CAST(COUNT(*) AS BIGINT) AS cnt
      |      FROM e GROUP BY 1, 2),
      |tot AS (SELECT event_type, CAST(SUM(cnt) AS BIGINT) AS n FROM h GROUP BY 1),
      |cum AS (SELECT h.event_type, cents, cnt, n,
      |          CAST(SUM(cnt) OVER (PARTITION BY h.event_type ORDER BY cents) AS BIGINT) AS cum
      |        FROM h JOIN tot ON h.event_type = tot.event_type),
      |lo AS (SELECT event_type, MIN(cents) AS lo_c FROM cum WHERE cum * 20 >= n GROUP BY 1),
      |hi AS (SELECT event_type, MIN(cents) AS hi_c FROM cum WHERE cum * 20 >= n * 19 GROUP BY 1),
      |w AS (SELECT h.event_type, cents, cnt, n, lo_c, hi_c,
      |        GREATEST(LEAST(cents, hi_c), lo_c) AS cl
      |      FROM h
      |      JOIN tot ON h.event_type = tot.event_type
      |      JOIN lo ON h.event_type = lo.event_type
      |      JOIN hi ON h.event_type = hi.event_type),
      |agg AS (SELECT event_type, MAX(n) AS n, MAX(lo_c) AS lo_c, MAX(hi_c) AS hi_c,
      |          CAST(SUM(CASE WHEN cents < lo_c THEN cnt ELSE 0 END) AS BIGINT) AS n_lo,
      |          CAST(SUM(CASE WHEN cents > hi_c THEN cnt ELSE 0 END) AS BIGINT) AS n_hi,
      |          CAST(SUM(cnt * cl) AS BIGINT) AS wsum_c
      |        FROM w GROUP BY 1)
      |SELECT event_type, n, lo_c, hi_c, n_lo, n_hi, wsum_c,
      |       ${ratio4Sql("wsum_c", "n")} AS wmean_c4
      |FROM agg ORDER BY event_type""".stripMargin)

  // q183: MMR reranking — the MmrK greedy steps UNROLLED as chained CTEs
  // (no recursion; DuckDB inlines multiply-referenced CTEs, so the shared
  // cand/pair frames are MATERIALIZED). Cosines through the q175 list
  // kernels (fold parity with the native expression); every step's score
  // is the textually identical `simq * 0.5 - maxp * 0.5` the engine
  // computes, compared on bit-identical doubles; the score column stays
  // unrounded (it sits on .00005 boundaries where ROUND semantics
  // diverge).
  private def mmrCosSql(a: String, b: String): String =
    s"""list_sum(list_transform(range(1, CAST(len($a) AS INTEGER) + 1),
       |      i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)))
       |    / (sqrt(list_sum(list_transform($a, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
       |     * sqrt(list_sum(list_transform($b, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))""".stripMargin

  /** The shared MMR greedy chain: `candCtes` must open the WITH clause
    * and end with a `mcand AS MATERIALIZED (src, dst, simq, dvec)` CTE;
    * the greedy steps (pair sims, MmrK unrolled selections) are appended
    * verbatim, so q183 and q186 run one selection definition over their
    * two retrievals. */
  private def mmrGreedySql(candCtes: String): String = {
    import Vectors.MmrK
    val steps = (2 to MmrK).map { k =>
      s"""r$k AS (SELECT c.src, c.dst, c.simq, MAX(p.simp) AS maxp
         |  FROM mcand c
         |  JOIN pair p ON p.src = c.src AND p.a = c.dst
         |  JOIN sel${k - 1} s ON s.src = p.src AND s.dst = p.b
         |  WHERE NOT EXISTS (SELECT 1 FROM sel${k - 1} x
         |                    WHERE x.src = c.src AND x.dst = c.dst)
         |  GROUP BY 1, 2, 3),
         |s$k AS (SELECT src, $k AS step, dst, mmr FROM (
         |    SELECT src, dst, mmr,
         |           row_number() OVER (PARTITION BY src ORDER BY mmr DESC, dst) AS rn
         |    FROM (SELECT src, dst, simq * 0.5 - maxp * 0.5 AS mmr FROM r$k))
         |  WHERE rn = 1),
         |sel$k AS MATERIALIZED (SELECT src, dst FROM sel${k - 1}
         |  UNION ALL SELECT src, dst FROM s$k)""".stripMargin
    }.mkString(",\n")
    val unionAll = (1 to MmrK).map(k => s"SELECT * FROM s$k").mkString(" UNION ALL ")
    s"""$candCtes,
       |pair AS MATERIALIZED (SELECT a.src, a.dst AS a, b.dst AS b,
       |    ROUND(${mmrCosSql("a.dvec", "b.dvec")}, 4) AS simp
       |  FROM mcand a JOIN mcand b ON a.src = b.src AND a.dst <> b.dst),
       |s1 AS (SELECT src, 1 AS step, dst, simq AS mmr FROM (
       |    SELECT src, dst, simq,
       |           row_number() OVER (PARTITION BY src ORDER BY simq DESC, dst) AS rn
       |    FROM mcand) WHERE rn = 1),
       |sel1 AS MATERIALIZED (SELECT src, dst FROM s1),
       |$steps
       |SELECT src, step, dst, mmr AS score FROM ($unionAll)
       |ORDER BY src, step""".stripMargin
  }

  private def mmrSql: String = {
    import Vectors.{MmrCand, MmrQueries}
    mmrGreedySql(
      s"""WITH q AS (SELECT vec_id AS src, embedding AS qvec FROM embeddings
         |           WHERE vec_id < $MmrQueries),
         |c0 AS (SELECT q.src, e.vec_id AS dst,
         |    ROUND(${mmrCosSql("e.embedding", "q.qvec")}, 4) AS simq,
         |    e.embedding AS dvec
         |  FROM embeddings e, q WHERE e.vec_id <> q.src),
         |mcand AS MATERIALIZED (SELECT src, dst, simq, dvec FROM (
         |    SELECT *, row_number() OVER (PARTITION BY src ORDER BY simq DESC, dst) AS rc
         |    FROM c0) WHERE rc <= $MmrCand)""".stripMargin)
  }

  // q186: MMR over the TUNED IVF retrieval — the q146 candidate chain
  // (subcode multi-probe, verbatim via ivfKnnTunedCtes) restricted to
  // the MmrQueries panel and widened to top-MmrCand, feeding the SAME
  // greedy CTE chain as q183. The engine restricts the query side
  // BEFORE probe ranking; the oracle filters the ranked frame — per-src
  // ranks are independent, so the two are result-identical.
  private def mmrTunedSql: String = {
    import Vectors.{MmrCand, MmrQueries, TunedSubBits}
    mmrGreedySql(
      s"""${ivfKnnTunedCtes(TunedSubBits)},
         |tc AS (SELECT src, dst, sim AS simq FROM r
         |       WHERE rk <= $MmrCand AND src < $MmrQueries),
         |mcand AS MATERIALIZED (SELECT tc.src, tc.dst, tc.simq,
         |    e.embedding AS dvec
         |  FROM tc JOIN embeddings e ON e.vec_id = tc.dst)""".stripMargin)
  }

  // q184: deterministic Poisson bootstrap — the h60 seed, the integer
  // inverse-CDF weight ladder, exact integer replicate sums, the ratio4
  // replicate means and the DISC order statistics over the B means,
  // each mirrored on the shared primitives (h60's '0x'||md5 parse,
  // ratio4Sql, the 40·rk >= n_reps·k rank rule).
  private def bootstrapSql: String = {
    import graft.queries.Stats.BootB
    (eventsCte + s""",
      |base AS (SELECT event_type, event_id,
      |           CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
      |         FROM e),
      |tot AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
      |          CAST(SUM(cents) AS BIGINT) AS sum_c
      |        FROM base GROUP BY 1),
      |hh AS (SELECT event_type, cents,
      |         ('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 15))::BIGINT % 10000 AS h
      |       FROM base),
      |rep AS (SELECT event_type, b, cents, (h + b * 5761) % 10000 AS u
      |        FROM hh, (SELECT unnest(generate_series(0, ${BootB - 1})) AS b)),
      |wt AS (SELECT event_type, b, cents,
      |         CASE WHEN u < 3679 THEN 0 WHEN u < 7358 THEN 1
      |              WHEN u < 9197 THEN 2 WHEN u < 9810 THEN 3
      |              WHEN u < 9963 THEN 4 ELSE 5 END AS w
      |       FROM rep),
      |rm AS (SELECT event_type, b, CAST(SUM(w) AS BIGINT) AS nw,
      |         CAST(SUM(w * cents) AS BIGINT) AS sw
      |       FROM wt GROUP BY 1, 2),
      |rmean AS (SELECT event_type, b, ${ratio4Sql("sw", "nw")} AS rmean4
      |          FROM rm WHERE nw > 0),
      |rk AS (SELECT event_type, b, rmean4,
      |         CAST(row_number() OVER (PARTITION BY event_type ORDER BY rmean4, b) AS BIGINT) AS rk,
      |         CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS n_reps
      |       FROM rmean),
      |lo AS (SELECT event_type, MIN(rmean4) AS ci_lo4 FROM rk
      |       WHERE rk * $BootB >= n_reps GROUP BY 1),
      |hi AS (SELECT event_type, MIN(rmean4) AS ci_hi4 FROM rk
      |       WHERE rk * $BootB >= n_reps * ${BootB - 1} GROUP BY 1),
      |nr AS (SELECT event_type, MAX(n_reps) AS n_reps FROM rk GROUP BY 1)
      |SELECT t.event_type, n, ${ratio4Sql("sum_c", "n")} AS mean_c4,
      |       ci_lo4, ci_hi4, n_reps
      |FROM tot t
      |JOIN lo USING (event_type) JOIN hi USING (event_type) JOIN nr USING (event_type)
      |ORDER BY event_type""".stripMargin)
  }

  // q187: the bucketed Poisson bootstrap — the SAME weight ladder and
  // CI finish as q184, but replicate sums computed from the (type, h)
  // bucket panel (the rotation's weights depend only on h, so the sums
  // factor through the buckets integer-exactly; result equals q184 row
  // for row).
  private def bootstrapBucketedSql: String = {
    import graft.queries.Stats.BootB
    (eventsCte + s""",
      |base AS (SELECT event_type, event_id,
      |           CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
      |         FROM e),
      |bk AS (SELECT event_type,
      |         ('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 15))::BIGINT % 10000 AS h,
      |         CAST(COUNT(*) AS BIGINT) AS cnt,
      |         CAST(SUM(cents) AS BIGINT) AS sum_c
      |       FROM base GROUP BY 1, 2),
      |tot AS (SELECT event_type, CAST(SUM(cnt) AS BIGINT) AS n,
      |          CAST(SUM(sum_c) AS BIGINT) AS sum_c
      |        FROM bk GROUP BY 1),
      |rep AS (SELECT event_type, b, cnt, sum_c, (h + b * 5761) % 10000 AS u
      |        FROM bk, (SELECT unnest(generate_series(0, ${BootB - 1})) AS b)),
      |wt AS (SELECT event_type, b, cnt, sum_c,
      |         CASE WHEN u < 3679 THEN 0 WHEN u < 7358 THEN 1
      |              WHEN u < 9197 THEN 2 WHEN u < 9810 THEN 3
      |              WHEN u < 9963 THEN 4 ELSE 5 END AS w
      |       FROM rep),
      |rm AS (SELECT event_type, b, CAST(SUM(w * cnt) AS BIGINT) AS nw,
      |         CAST(SUM(w * sum_c) AS BIGINT) AS sw
      |       FROM wt GROUP BY 1, 2),
      |rmean AS (SELECT event_type, b, ${ratio4Sql("sw", "nw")} AS rmean4
      |          FROM rm WHERE nw > 0),
      |rk AS (SELECT event_type, b, rmean4,
      |         CAST(row_number() OVER (PARTITION BY event_type ORDER BY rmean4, b) AS BIGINT) AS rk,
      |         CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS n_reps
      |       FROM rmean),
      |lo AS (SELECT event_type, MIN(rmean4) AS ci_lo4 FROM rk
      |       WHERE rk * $BootB >= n_reps GROUP BY 1),
      |hi AS (SELECT event_type, MIN(rmean4) AS ci_hi4 FROM rk
      |       WHERE rk * $BootB >= n_reps * ${BootB - 1} GROUP BY 1),
      |nr AS (SELECT event_type, MAX(n_reps) AS n_reps FROM rk GROUP BY 1)
      |SELECT t.event_type, n, ${ratio4Sql("sum_c", "n")} AS mean_c4,
      |       ci_lo4, ci_hi4, n_reps
      |FROM tot t
      |JOIN lo USING (event_type) JOIN hi USING (event_type) JOIN nr USING (event_type)
      |ORDER BY event_type""".stripMargin)
  }

  // q185: time-decayed engagement — integer power-of-two weights
  // (1 << (40 - k), k = floor(days/7) clamped) over exact cent sums in
  // HUGEINT, one ratio4dec quotient against the 2^40 denominator.
  private def decayedSql: String = {
    import graft.queries.Stats.{DecayClampK, DecayHalfLifeDays}
    val den = 1L << DecayClampK
    (eventsCte + s""",
      |daily AS (SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS d,
      |            CAST(SUM(CAST(value AS DECIMAL(18,4))) * 100 AS BIGINT) AS sc
      |          FROM e GROUP BY 1, 2),
      |r AS (SELECT MAX(d) AS ref_d FROM daily),
      |k AS (SELECT event_type, d, sc, ref_d,
      |        LEAST((ref_d - d) // $DecayHalfLifeDays, $DecayClampK) AS kk
      |      FROM daily, r),
      |agg AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days,
      |          MAX(ref_d) AS ref_d,
      |          SUM(CAST(sc AS HUGEINT) *
      |              (CAST(1 AS BIGINT) << CAST($DecayClampK - kk AS INTEGER))) AS num
      |        FROM k GROUP BY 1)
      |SELECT event_type, n_days, ref_d,
      |       CAST((num * 20000 + $den) // (CAST($den AS HUGEINT) * 2) AS DOUBLE) / 10000.0 AS decayed_c4
      |FROM agg ORDER BY event_type""".stripMargin)
  }

  // q169: latency in whole hours by exact integer division of epoch
  // micros (`//` mirrors Spark's `div`); the DISC p50/p90 off the hour
  // histogram; the one-row output is the single-row-aggregate cross-join
  // chain, so an empty log yields one all-NULL row on both engines.
  private def conversionLatencySql: String =
    (eventsCte + """,
      |su AS (SELECT user_id, MIN(ts) AS ts_s FROM e WHERE event_type = 'signup' GROUP BY 1),
      |lat AS (SELECT e.user_id, MIN(epoch_us(e.ts) - epoch_us(su.ts_s)) AS lat_us
      |        FROM e JOIN su ON e.user_id = su.user_id
      |        WHERE e.event_type = 'purchase' AND e.ts >= su.ts_s
      |        GROUP BY 1),
      |hh AS (SELECT lat_us // 3600000000 AS h FROM lat),
      |h AS (SELECT h, CAST(COUNT(*) AS BIGINT) AS cnt FROM hh GROUP BY 1),
      |tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n, CAST(SUM(h * cnt) AS BIGINT) AS sum_h FROM h),
      |cum AS (SELECT h, CAST(SUM(cnt) OVER (ORDER BY h) AS BIGINT) AS cum FROM h),
      |p50 AS (SELECT MIN(h) AS p50_h FROM cum, tot WHERE cum * 2 >= n),
      |p90 AS (SELECT MIN(h) AS p90_h FROM cum, tot WHERE cum * 10 >= n * 9)
      |SELECT n AS n_converted, p50_h, p90_h,
      |       CASE WHEN n > 0 THEN """.stripMargin +
      ratio4Sql("sum_h", "n") + """ END AS mean_h4
      |FROM tot, p50, p90""".stripMargin)

  // q170: per-priority DISC p50/p90 of order-to-ship lag days; DuckDB
  // date_diff returns BIGINT -> cast to INTEGER to match Spark's datediff.
  private def shipLagSql: String =
    s"""WITH lag AS (SELECT o_orderpriority AS priority,
       |         CAST(date_diff('day', CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE)) AS INTEGER) AS lag_d
       |       FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
       |h AS (SELECT priority, lag_d, CAST(COUNT(*) AS BIGINT) AS cnt FROM lag GROUP BY 1, 2),
       |tot AS (SELECT priority, CAST(SUM(cnt) AS BIGINT) AS n FROM h GROUP BY 1),
       |cum AS (SELECT h.priority, lag_d, n,
       |          CAST(SUM(cnt) OVER (PARTITION BY h.priority ORDER BY lag_d) AS BIGINT) AS cum
       |        FROM h JOIN tot ON h.priority = tot.priority),
       |p50 AS (SELECT priority, MIN(lag_d) AS p50_d FROM cum WHERE cum * 2 >= n GROUP BY 1),
       |p90 AS (SELECT priority, MIN(lag_d) AS p90_d FROM cum WHERE cum * 10 >= n * 9 GROUP BY 1)
       |SELECT tot.priority, n, p50_d, p90_d
       |FROM tot
       |JOIN p50 ON tot.priority = p50.priority
       |JOIN p90 ON tot.priority = p90.priority
       |ORDER BY tot.priority""".stripMargin

  // q171: Pearson moments in exact HUGEINT; the denominator is the
  // sqrt-PRODUCT (two sqrts of exactly-cast doubles, then one multiply and
  // one division — the engine's identical expression), never
  // sqrt-of-product, keeping the integer carrier far from its ceiling.
  private def typeCorrSql: String =
    (eventsCte + """,
      |daily AS (SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS d,
      |            CAST(COUNT(*) AS BIGINT) AS n
      |          FROM e GROUP BY 1, 2),
      |j AS (SELECT a.event_type AS type_a, b.event_type AS type_b, a.n AS x, b.n AS y
      |      FROM daily a JOIN daily b ON a.d = b.d AND a.event_type < b.event_type),
      |s AS (SELECT type_a, type_b, CAST(COUNT(*) AS HUGEINT) AS nd,
      |        CAST(SUM(x) AS HUGEINT) AS sx, CAST(SUM(y) AS HUGEINT) AS sy,
      |        CAST(SUM(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
      |        CAST(SUM(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy,
      |        CAST(SUM(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy
      |      FROM j GROUP BY 1, 2),
      |f AS (SELECT type_a, type_b, nd,
      |        nd * sxy - sx * sy AS num,
      |        nd * sxx - sx * sx AS vx,
      |        nd * syy - sy * sy AS vy
      |      FROM s)
      |SELECT type_a, type_b, CAST(nd AS BIGINT) AS n_days,
      |       CASE WHEN vx > 0 AND vy > 0
      |            THEN CAST(num AS DOUBLE) / (sqrt(CAST(vx AS DOUBLE)) * sqrt(CAST(vy AS DOUBLE)))
      |            END AS r
      |FROM f ORDER BY type_a, type_b""".stripMargin)

  // q172: running-peak drawdown per type; argmax via (dd DESC, d)
  // row_number — the engine's min-over-(-dd, d) struct.
  private def drawdownSql: String =
    (eventsCte + """,
      |daily AS (SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS d,
      |            CAST(COUNT(*) AS BIGINT) AS n
      |          FROM e GROUP BY 1, 2),
      |dd AS (SELECT event_type, d, n,
      |         MAX(n) OVER (PARTITION BY event_type ORDER BY d) - n AS dd
      |       FROM daily),
      |r AS (SELECT event_type, d, dd,
      |        row_number() OVER (PARTITION BY event_type ORDER BY dd DESC, d) AS rn
      |      FROM dd),
      |pk AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days,
      |         CAST(MAX(n) AS BIGINT) AS peak_n
      |       FROM daily GROUP BY 1)
      |SELECT pk.event_type, n_days, peak_n, dd AS max_dd, d AS trough_d
      |FROM pk JOIN r ON pk.event_type = r.event_type AND r.rn = 1
      |ORDER BY pk.event_type""".stripMargin)

  // q173: the grouped-ties Gini in exact HUGEINT — rank offsets off the
  // revenue histogram's cumulative counts (the engine computes the same
  // prefix two-phase; grouped totals make the value identical), one
  // HUGEINT `//` ratio4dec mirror at the end.
  private def giniSql: String =
    s"""WITH per AS (SELECT o_custkey,
       |         CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)) AS BIGINT) AS v
       |       FROM orders GROUP BY 1),
       |h AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS c FROM per GROUP BY 1),
       |cumf AS (SELECT v, c,
       |           CAST(SUM(c) OVER (ORDER BY v) AS HUGEINT) - c AS a
       |         FROM h),
       |t AS (SELECT CAST(SUM(c) AS HUGEINT) AS n,
       |        CAST(SUM(CAST(v AS HUGEINT) * c) AS HUGEINT) AS s,
       |        CAST(SUM(CAST(v AS HUGEINT) *
       |          (2 * CAST(c AS HUGEINT) * a + CAST(c AS HUGEINT) * c + c)) AS HUGEINT) AS twoix
       |      FROM cumf)
       |SELECT CAST(n AS BIGINT) AS n_customers, CAST(s AS BIGINT) AS total_cents,
       |       CASE WHEN n > 0 AND s > 0
       |            THEN CAST(((twoix - (n + 1) * s) * 20000 + n * s) // (n * s * 2) AS DOUBLE)
       |                   / 10000.0 END AS gini4
       |FROM t""".stripMargin

  // q174: the rank-range decile split mirrored literally (generate_series
  // over the touched deciles, ceil-div boundaries, overlap counts); HUGEINT
  // revenue sums and the `//` ratio4dec mirror per decile.
  private def revenueDecilesSql: String =
    s"""WITH per AS (SELECT o_custkey,
       |         CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)) AS BIGINT) AS v
       |       FROM orders GROUP BY 1),
       |h AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS c FROM per GROUP BY 1),
       |cumf AS (SELECT v, c, CAST(SUM(c) OVER (ORDER BY v) AS BIGINT) - c AS a FROM h),
       |tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n,
       |          CAST(SUM(CAST(v AS HUGEINT) * c) AS HUGEINT) AS s
       |        FROM h),
       |x AS MATERIALIZED (SELECT v, c, a, n, s,
       |        unnest(generate_series(a * 10 // n, (a + c - 1) * 10 // n)) AS d
       |      FROM cumf, tot),
       |y AS (SELECT v, d, s,
       |        LEAST(a + c - 1, ((d + 1) * n + 9) // 10 - 1)
       |          - GREATEST(a, (d * n + 9) // 10) + 1 AS ov
       |      FROM x)
       |SELECT d AS decile, CAST(SUM(ov) AS BIGINT) AS n_customers,
       |       CAST(SUM(CAST(ov AS HUGEINT) * v) AS BIGINT) AS revenue_cents,
       |       CASE WHEN MAX(s) > 0
       |            THEN CAST((SUM(CAST(ov AS HUGEINT) * v) * 20000 + MAX(s)) // (MAX(s) * 2) AS DOUBLE)
       |                   / 10000.0 END AS share4
       |FROM y WHERE ov > 0 GROUP BY d ORDER BY d""".stripMargin

  // q175: full-width and sliced cosines through the same list kernels the
  // q31/q77 oracles use (fold parity with the native expression); both
  // rankings share the (ROUND-4 sim DESC, dst) tie discipline and the
  // overlap counts on one candidate frame.
  private def truncationRecallSql: String = {
    def cosSql(a: String, b: String, d: String): String =
      s"""list_sum(list_transform(range(1, $d + 1),
         |      i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)))
         |    / (sqrt(list_sum(list_transform($a[1:$d], x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
         |     * sqrt(list_sum(list_transform($b[1:$d], x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))""".stripMargin
    import Vectors.{KnnK, TruncDims, TruncQueries}
    s"""WITH q AS (SELECT vec_id AS src, embedding AS qvec FROM embeddings
       |           WHERE vec_id < $TruncQueries),
       |cand AS (SELECT q.src, e.vec_id AS dst,
       |    ROUND(${cosSql("e.embedding", "q.qvec", "CAST(len(e.embedding) AS INTEGER)")}, 4) AS sim_full,
       |    ROUND(${cosSql("e.embedding", "q.qvec", TruncDims.toString)}, 4) AS sim_tr
       |  FROM embeddings e, q WHERE e.vec_id <> q.src),
       |r AS (SELECT src, dst,
       |        row_number() OVER (PARTITION BY src ORDER BY sim_full DESC, dst) AS rk_f,
       |        row_number() OVER (PARTITION BY src ORDER BY sim_tr DESC, dst) AS rk_t
       |      FROM cand)
       |SELECT src, CAST($KnnK AS INTEGER) AS k,
       |       CAST(SUM(CASE WHEN rk_f <= $KnnK AND rk_t <= $KnnK THEN 1 ELSE 0 END) AS BIGINT) AS n_overlap,
       |       ${ratio4Sql(s"SUM(CASE WHEN rk_f <= $KnnK AND rk_t <= $KnnK THEN 1 ELSE 0 END)", KnnK.toString)} AS recall4
       |FROM r GROUP BY src ORDER BY src""".stripMargin
  }

  // q176: the stub metadata, midpoint frame indices and pointed-read
  // offsets mirrored literally in integer arithmetic; substr position is
  // 1-based char slicing on both engines, digest over the UTF-8 bytes.
  private def frameSampleSql: String = {
    import MediaQ.FrameSamples
    s"""WITH m AS (SELECT doc_id, text, CAST(len(text) AS INTEGER) AS n_chars,
       |         CAST(len(text) AS BIGINT) AS duration_ms,
       |         CAST(24 + (doc_id % 6 + 6) % 6 AS BIGINT) AS fps
       |       FROM documents),
       |t AS (SELECT *, duration_ms * fps // 1000 AS total_frames FROM m),
       |x AS MATERIALIZED (SELECT *, unnest(generate_series(0, ${FrameSamples - 1})) AS j
       |      FROM t WHERE total_frames > 0),
       |y AS (SELECT doc_id, CAST(j AS INTEGER) AS sample_j, fps, total_frames,
       |        total_frames * (2 * j + 1) // ${2 * FrameSamples} AS frame_idx,
       |        n_chars, text
       |      FROM x)
       |SELECT doc_id, sample_j, fps, total_frames, frame_idx,
       |       md5(substr(text,
       |         CAST(frame_idx % GREATEST(1, n_chars - 15) + 1 AS INTEGER), 16)) AS frame_md5
       |FROM y ORDER BY doc_id, sample_j""".stripMargin
  }

  // q177: q171's moment mirror swept over the lag offsets (b.d = a.d + lag
  // via the shifted join key); ordered pairs because direction matters at
  // lag > 0.
  private def lagCorrSql: String = {
    import graft.queries.Stats.XcorrMaxLag
    val legs = (0 to XcorrMaxLag).map { l =>
      s"""SELECT a.event_type AS type_a, b.event_type AS type_b, $l AS lag_d,
         |       a.n AS x, b.n AS y
         |FROM daily a JOIN daily b
         |  ON b.d = a.d + $l AND a.event_type <> b.event_type""".stripMargin
    }.mkString("\nUNION ALL\n")
    (eventsCte + s""",
      |daily AS (SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS d,
      |            CAST(COUNT(*) AS BIGINT) AS n
      |          FROM e GROUP BY 1, 2),
      |j AS ($legs),
      |s AS (SELECT type_a, type_b, lag_d, CAST(COUNT(*) AS HUGEINT) AS nd,
      |        CAST(SUM(x) AS HUGEINT) AS sx, CAST(SUM(y) AS HUGEINT) AS sy,
      |        CAST(SUM(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
      |        CAST(SUM(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy,
      |        CAST(SUM(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy
      |      FROM j GROUP BY 1, 2, 3),
      |f AS (SELECT type_a, type_b, lag_d, nd,
      |        nd * sxy - sx * sy AS num,
      |        nd * sxx - sx * sx AS vx, nd * syy - sy * sy AS vy
      |      FROM s)
      |SELECT type_a, type_b, CAST(lag_d AS INTEGER) AS lag_d,
      |       CAST(nd AS BIGINT) AS n_days,
      |       CASE WHEN vx > 0 AND vy > 0
      |            THEN CAST(num AS DOUBLE) / (sqrt(CAST(vx AS DOUBLE)) * sqrt(CAST(vy AS DOUBLE)))
      |            END AS r
      |FROM f ORDER BY type_a, type_b, lag_d""".stripMargin)
  }

  // q178: the q25 sessionization mirror carrying (event_id, event_type);
  // entry/exit as rank-1 rows of the (ts, event_id) order; duration in
  // exact epoch micros with the HUGEINT `//` ratio4dec mean.
  private def sessionFlowSql: String =
    (eventsCte + """,
      |x AS (SELECT user_id, ts, event_id, event_type,
      |        CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
      |               OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) > INTERVAL '30 minutes'
      |             THEN 1 ELSE 0 END AS new_s
      |      FROM e),
      |y AS (SELECT user_id, ts, event_id, event_type,
      |        SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      |      FROM x),
      |r AS (SELECT *,
      |        row_number() OVER (PARTITION BY user_id, sid ORDER BY ts, event_id) AS rn_f,
      |        row_number() OVER (PARTITION BY user_id, sid ORDER BY ts DESC, event_id DESC) AS rn_l
      |      FROM y),
      |g AS (SELECT user_id, sid,
      |        MAX(CASE WHEN rn_f = 1 THEN event_type END) AS entry_type,
      |        MAX(CASE WHEN rn_l = 1 THEN event_type END) AS exit_type,
      |        CAST(epoch_us(MAX(ts)) - epoch_us(MIN(ts)) AS BIGINT) AS dur_us,
      |        COUNT(*) AS n_events
      |      FROM r GROUP BY 1, 2)
      |SELECT entry_type, exit_type, CAST(COUNT(*) AS BIGINT) AS n_sessions,
      |       CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_bounce,
      |       FLOOR((CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS DOUBLE) * 20000.0 + COUNT(*))
      |         / (CAST(COUNT(*) AS DOUBLE) * 2.0)) / 10000.0 AS bounce4,
      |       CAST((CAST(SUM(dur_us) AS HUGEINT) * 20000 + COUNT(*) * 1000000)
      |         // (CAST(COUNT(*) AS HUGEINT) * 2000000) AS DOUBLE) / 10000.0 AS mean_dur_s4
      |FROM g GROUP BY entry_type, exit_type
      |ORDER BY entry_type, exit_type""".stripMargin)

  // q179: per-(type, day) DISC p10/p50/p90 off cent histograms — the q168
  // machinery swept along the calendar, totals via the unbounded window.
  private def valueBandsSql: String =
    (eventsCte + """,
      |h AS (SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS d,
      |        CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents,
      |        CAST(COUNT(*) AS BIGINT) AS cnt
      |      FROM e GROUP BY 1, 2, 3),
      |c AS (SELECT event_type, d, cents, cnt,
      |        CAST(SUM(cnt) OVER (PARTITION BY event_type, d ORDER BY cents) AS BIGINT) AS cum,
      |        CAST(SUM(cnt) OVER (PARTITION BY event_type, d) AS BIGINT) AS n
      |      FROM h)
      |SELECT event_type, d, MAX(n) AS n,
      |       MIN(CASE WHEN cum * 10 >= n THEN cents END) AS p10_c,
      |       MIN(CASE WHEN cum * 2 >= n THEN cents END) AS p50_c,
      |       MIN(CASE WHEN cum * 10 >= n * 9 THEN cents END) AS p90_c
      |FROM c GROUP BY event_type, d
      |ORDER BY event_type, d""".stripMargin)

  // q180: DISC equi-depth boundaries off the ranked histogram (the engine
  // computes the ranks two-phase; grouped totals make the values equal),
  // tie-collapsed boundary list, first-admitting-bucket assignment.
  private def equiDepthSql: String = {
    import ZOrder.EqDepthBuckets
    s"""WITH vv AS (SELECT CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS v
       |            FROM orders),
       |h AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS c FROM vv GROUP BY 1),
       |r AS (SELECT v, c, CAST(SUM(c) OVER (ORDER BY v) AS BIGINT) - c AS a FROM h),
       |tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM h),
       |ks AS (SELECT unnest(generate_series(1, $EqDepthBuckets)) AS k),
       |bnd AS (SELECT k, MIN(v) AS ub
       |        FROM r, tot, ks
       |        WHERE (a + c) * $EqDepthBuckets >= k * n GROUP BY k),
       |ubs AS (SELECT list_sort(list(DISTINCT ub)) AS ubs FROM bnd),
       |asg AS (SELECT v, c,
       |          CAST(len(list_filter(ubs, x -> x < v)) AS INTEGER) + 1 AS bucket
       |        FROM r, ubs)
       |SELECT bucket, MAX(v) AS ub, CAST(SUM(c) AS BIGINT) AS n_rows,
       |       CAST(COUNT(*) AS BIGINT) AS n_distinct,
       |       MIN(v) AS min_v, MAX(v) AS max_v
       |FROM asg GROUP BY bucket ORDER BY bucket""".stripMargin
  }

  // q152: two LWW snapshots (row_number mirrors of q27's window) diffed by
  // the winning event_id — the engine's single grouped pass is mirrored as
  // the composition it is provably equal to. Insert detection keys on the
  // matched row's event_id (never NULL when matched), not user_id (nullable
  // by schema), and the join is null-safe for the same reason.
  private def snapshotDiffSql: String = {
    import ChangeData.SnapshotCutoff
    val lww = "row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC)"
    (eventsCte + s""",
      |o0 AS (SELECT user_id, event_id, event_type, value, ts, $lww AS rn
      |       FROM e WHERE ts <= TIMESTAMP '$SnapshotCutoff'),
      |o AS (SELECT * FROM o0 WHERE rn = 1),
      |c0 AS (SELECT user_id, event_id, event_type, value, ts, $lww AS rn FROM e),
      |c AS (SELECT * FROM c0 WHERE rn = 1)
      |SELECT c.user_id,
      |  CASE WHEN o.event_id IS NULL THEN 'insert' ELSE 'update' END AS change,
      |  o.event_id AS old_event_id, o.event_type AS old_event_type,
      |  o.value AS old_value, o.ts AS old_ts,
      |  c.event_id AS new_event_id, c.event_type AS new_event_type,
      |  c.value AS new_value, c.ts AS new_ts
      |FROM c LEFT JOIN o ON c.user_id IS NOT DISTINCT FROM o.user_id
      |WHERE o.event_id IS NULL OR o.event_id <> c.event_id
      |ORDER BY c.user_id""".stripMargin)
  }

  private def transitionSql: String =
    (eventsCte + s""",
      |s AS (SELECT event_type AS from_type,
      |        lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS to_type
      |      FROM e),
      |n AS (SELECT from_type, to_type, COUNT(*) AS n_transitions
      |      FROM s WHERE to_type IS NOT NULL GROUP BY 1, 2),
      |t AS (SELECT from_type, to_type, n_transitions,
      |        CAST(SUM(n_transitions) OVER (PARTITION BY from_type) AS BIGINT) AS tot
      |      FROM n)
      |SELECT from_type, to_type, n_transitions,
      |       ${ratio4Sql("n_transitions", "tot")} AS p4
      |FROM t ORDER BY from_type, to_type""".stripMargin)

  // q154: the as-of lookup mirrored as the inequality-join + arg-max
  // composition (q09's oracle pattern, payload carried by max_by over the
  // per-(user, ts)-deduped touch side — unique ts per user makes the
  // arg-max total). Purchases group by their own event_id so same-(user,
  // ts, value) conversions never collapse.
  private def attributionSql: String = {
    import Behavior.AttributionWindowMicros
    (eventsCte + s""",
      |p AS (SELECT event_id, user_id, ts, value FROM e WHERE event_type = 'purchase'),
      |t AS (SELECT user_id, ts, max_by(event_type, event_id) AS touch_type
      |      FROM e WHERE event_type <> 'purchase' GROUP BY 1, 2),
      |j AS (SELECT p.event_id, p.ts, p.value,
      |        max_by(t.touch_type, t.ts) AS touch_type, max(t.ts) AS touch_ts
      |      FROM p LEFT JOIN t ON t.user_id = p.user_id AND t.ts < p.ts
      |      GROUP BY p.event_id, p.ts, p.value),
      |a AS (SELECT CASE WHEN touch_ts IS NOT NULL
      |               AND epoch_us(ts) - epoch_us(touch_ts) <= $AttributionWindowMicros
      |             THEN touch_type ELSE 'direct' END AS channel, value
      |      FROM j)
      |SELECT channel, COUNT(*) AS n_conversions,
      |       CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS attr_value
      |FROM a GROUP BY channel ORDER BY channel""".stripMargin)
  }

  // q155: the ratio4dec half-up mirrored in exact HUGEINT arithmetic —
  // (num·20000 + den) // (2·den) — because cents·micros products pass
  // 2⁵³, where ratio4Sql's double-carried form would already be lossy.
  private def twapSql: String =
    (eventsCte + s""",
      |s AS (SELECT user_id,
      |        CAST(CAST(value AS DECIMAL(12,2)) * 100 AS HUGEINT) AS cents,
      |        epoch_us(ts) AS us,
      |        lead(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS nxt
      |      FROM e),
      |g AS (SELECT user_id, COUNT(*) AS n_events,
      |        CAST(SUM(CASE WHEN nxt IS NULL THEN 0 ELSE nxt - us END) AS BIGINT) AS span_us,
      |        SUM(CASE WHEN nxt IS NULL THEN 0 ELSE cents * (nxt - us) END) AS num
      |      FROM s GROUP BY 1)
      |SELECT user_id, n_events, span_us,
      |  CASE WHEN span_us > 0 THEN
      |    CAST((num * 20000 + span_us * 100) // (span_us * 200) AS DOUBLE) / 10000.0
      |  ELSE NULL END AS twap4
      |FROM g ORDER BY user_id""".stripMargin)

  // q156: the disc-percentile-from-histogram chain mirrored literally —
  // per-metric value histograms (monetary on the dollar grid), cumulative
  // counts, boundary = smallest v with 5·cum ≥ k·N in exact integers,
  // then the broadcast scoring join and the segment rollup.
  private def rfmSql: String = {
    import Behavior.{MonetaryGridCents, RfmQuantiles}
    val Q = RfmQuantiles
    (eventsCte + s""",
      |um AS (SELECT user_id, max(ts) AS last_ts, COUNT(*) AS frequency,
      |         SUM(CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)) AS cents
      |       FROM e GROUP BY 1),
      |ref AS (SELECT CAST(date_trunc('day', max(ts)) AS DATE) AS ref_date FROM e),
      |m0 AS (SELECT user_id,
      |         CAST(date_diff('day', CAST(date_trunc('day', last_ts) AS DATE), ref_date) AS BIGINT) AS r,
      |         frequency, CAST(cents AS BIGINT) AS cents,
      |         CAST(cents - (cents % $MonetaryGridCents) AS BIGINT) AS mg
      |       FROM um, ref),
      |mv AS (SELECT user_id, cents, frequency, 'r' AS metric, r AS v FROM m0
      |       UNION ALL SELECT user_id, cents, frequency, 'f', frequency FROM m0
      |       UNION ALL SELECT user_id, cents, frequency, 'm', mg FROM m0),
      |h AS (SELECT metric, v, COUNT(*) AS cnt FROM mv GROUP BY 1, 2),
      |t AS (SELECT metric, CAST(SUM(cnt) AS BIGINT) AS n_tot FROM h GROUP BY 1),
      |cm AS (SELECT h.metric, v,
      |         CAST(SUM(cnt) OVER (PARTITION BY h.metric ORDER BY v
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
      |         n_tot
      |       FROM h JOIN t ON h.metric = t.metric),
      |b AS (SELECT metric,
      |        min(CASE WHEN cum * $Q >= n_tot THEN v END) AS b1,
      |        min(CASE WHEN cum * $Q >= n_tot * 2 THEN v END) AS b2,
      |        min(CASE WHEN cum * $Q >= n_tot * 3 THEN v END) AS b3,
      |        min(CASE WHEN cum * $Q >= n_tot * 4 THEN v END) AS b4
      |      FROM cm GROUP BY 1),
      |s AS (SELECT user_id, cents, frequency, mv.metric,
      |        1 + (CASE WHEN v > b1 THEN 1 ELSE 0 END)
      |          + (CASE WHEN v > b2 THEN 1 ELSE 0 END)
      |          + (CASE WHEN v > b3 THEN 1 ELSE 0 END)
      |          + (CASE WHEN v > b4 THEN 1 ELSE 0 END) AS q
      |      FROM mv JOIN b ON mv.metric = b.metric),
      |p AS (SELECT user_id,
      |        max(CASE WHEN metric = 'r' THEN q END) AS r_q,
      |        max(CASE WHEN metric = 'f' THEN q END) AS f_q,
      |        max(CASE WHEN metric = 'm' THEN q END) AS m_q,
      |        max(cents) AS cents, max(frequency) AS frequency
      |      FROM s GROUP BY 1)
      |SELECT r_q, f_q, m_q, COUNT(*) AS n_users,
      |       CAST(SUM(cents) AS DOUBLE) / 100.0 AS total_value,
      |       ${ratio4Sql("CAST(SUM(frequency) AS BIGINT)", "COUNT(*)")} AS avg_freq4
      |FROM p GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin)
  }

  // q157: the binned range join mirrored as the inequality-join + arg-min/
  // arg-max composition over the per-(user, ts)-deduped touch side (unique
  // instants make the arg-extrema total); credit halves stay DECIMAL.
  private def positionAttributionSql: String = {
    import Behavior.AttributionWindowMicros
    (eventsCte + s""",
      |p AS (SELECT event_id AS conv_id, user_id, epoch_us(ts) AS p_us,
      |        CAST(value AS DECIMAL(18,4)) AS value
      |      FROM e WHERE event_type = 'purchase'),
      |t AS (SELECT user_id, epoch_us(ts) AS t_us,
      |        max_by(event_type, event_id) AS channel
      |      FROM e WHERE event_type <> 'purchase' GROUP BY 1, 2),
      |w AS (SELECT p.conv_id, p.value,
      |        min_by(t.channel, t.t_us) AS fch, max_by(t.channel, t.t_us) AS lch,
      |        count(t.t_us) AS n
      |      FROM p LEFT JOIN t ON t.user_id = p.user_id AND t.t_us < p.p_us
      |        AND p.p_us - t.t_us <= $AttributionWindowMicros
      |      GROUP BY 1, 2),
      |r AS (SELECT CASE WHEN n = 0 THEN 'direct' ELSE fch END AS channel,
      |             CASE WHEN n = 0 THEN 'direct' ELSE 'first' END AS role,
      |             CASE WHEN n = 0 THEN CAST(value AS DECIMAL(19,5))
      |                  ELSE CAST(value * CAST(0.5 AS DECIMAL(2,1)) AS DECIMAL(19,5)) END AS credit
      |      FROM w
      |      UNION ALL
      |      SELECT lch, 'last',
      |             CAST(value * CAST(0.5 AS DECIMAL(2,1)) AS DECIMAL(19,5))
      |      FROM w WHERE n > 0)
      |SELECT channel,
      |  CAST(COUNT(*) FILTER (WHERE role = 'first') AS BIGINT) AS n_first,
      |  CAST(COUNT(*) FILTER (WHERE role = 'last') AS BIGINT) AS n_last,
      |  CAST(COUNT(*) FILTER (WHERE role = 'direct') AS BIGINT) AS n_direct,
      |  CAST(SUM(credit) AS DOUBLE) AS attr_value
      |FROM r GROUP BY channel ORDER BY channel""".stripMargin)
  }

  private def compactionSql: String = {
    import ZOrder.CompactTargetRows
    s"""WITH $zorderCtes,
       |b AS (SELECT bucket, COUNT(*) AS n FROM z GROUP BY bucket),
       |c AS (SELECT bucket, n,
       |        CAST(COALESCE(SUM(n) OVER (ORDER BY bucket
       |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS bfr
       |      FROM b),
       |g AS (SELECT bucket, n, bfr // $CompactTargetRows AS grp FROM c)
       |SELECT grp, min(bucket) AS first_bucket, max(bucket) AS last_bucket,
       |       COUNT(*) AS n_buckets, CAST(SUM(n) AS BIGINT) AS total_rows,
       |       CAST(SUM(n) AS BIGINT) >= $CompactTargetRows AS at_target
       |FROM g GROUP BY grp ORDER BY grp""".stripMargin
  }

  /** q95 oracle: the ivfKnn chain (at the production NProbe) evaluated
    * against a brute-force exact panel, plus the q92 chain evaluated
    * against conjunctive lexical relevance. `tru` and `ivf_per` are
    * referenced twice downstream, so they are AS MATERIALIZED (the
    * q94 lesson: DuckDB inlines multiply-referenced CTEs). Macro MRR
    * uses the engine's exact-integer rescaling (MrrScale // first_rank)
    * so both engines sum identical integers. */
  private def retrievalEvalSql: String = {
    val Q = RetrievalEval.EvalQueries
    val S = RetrievalEval.MrrScale
    val k = Vectors.KnnK
    s"""${ivfKnnCtes()},
       |ret AS (SELECT src, rk, dst FROM r WHERE rk <= $k AND src < $Q),
       |panel AS (SELECT vec_id AS src, embedding AS qv FROM embeddings WHERE vec_id < $Q),
       |bf AS (SELECT p.src, e.vec_id AS dst,
       |    ROUND(
       |      list_reduce(list_transform(range(1, CAST(len(p.qv) AS INTEGER) + 1),
       |        j -> CAST(p.qv[j] AS DOUBLE) * CAST(e.embedding[j] AS DOUBLE)), (x, y) -> x + y)
       |      / (sqrt(list_reduce(list_transform(p.qv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (x, y) -> x + y))
       |       * sqrt(list_reduce(list_transform(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (x, y) -> x + y))), 4) AS sim
       |  FROM embeddings e CROSS JOIN panel p WHERE e.vec_id <> p.src),
       |tru AS MATERIALIZED (SELECT src, dst FROM (
       |    SELECT src, dst, row_number() OVER (PARTITION BY src ORDER BY sim DESC, dst) AS rn
       |    FROM bf) WHERE rn <= $k),
       |trel AS (SELECT src, COUNT(*) AS n_rel FROM tru GROUP BY src),
       |ihits AS (SELECT ret.src, COUNT(t.dst) AS n_hit,
       |            MIN(CASE WHEN t.dst IS NOT NULL THEN ret.rk END) AS fr
       |          FROM ret LEFT JOIN tru t ON t.src = ret.src AND t.dst = ret.dst
       |          GROUP BY ret.src),
       |ivf_per AS MATERIALIZED (SELECT 'ivf' AS method, CAST(h.src AS BIGINT) AS query_id,
       |    CAST(tr.n_rel AS BIGINT) AS n_rel, CAST(h.n_hit AS BIGINT) AS n_hit,
       |    CAST(COALESCE(h.fr, 0) AS BIGINT) AS first_rank,
       |    ${ratio4Sql("h.n_hit", "tr.n_rel")} AS recall4,
       |    CASE WHEN h.fr IS NULL THEN 0.0 ELSE ${ratio4Sql("1", "h.fr")} END AS rr4
       |  FROM ihits h JOIN trel tr ON tr.src = h.src),
       |ivf_mac AS (SELECT 'ivf_macro' AS method, CAST(-1 AS BIGINT) AS query_id,
       |    CAST(SUM(n_rel) AS BIGINT) AS n_rel, CAST(SUM(n_hit) AS BIGINT) AS n_hit,
       |    CAST(0 AS BIGINT) AS first_rank,
       |    ${ratio4Sql("SUM(n_hit)", "SUM(n_rel)")} AS recall4,
       |    ${ratio4Sql(s"SUM(CASE WHEN first_rank > 0 THEN $S // first_rank ELSE 0 END)", s"COUNT(*) * $S")} AS rr4
       |  FROM ivf_per),
       |$bm25Ctes,
       |ret15 AS (SELECT doc_id, rk FROM (
       |    SELECT doc_id, row_number() OVER (ORDER BY ROUND(sum_s, 4) DESC, doc_id) AS rk
       |    FROM agg) WHERE rk <= ${Text.Bm25TopK}),
       |brel AS (SELECT doc_id FROM tf GROUP BY doc_id
       |         HAVING COUNT(DISTINCT token) = ${Text.Bm25Query.size}),
       |bnrel AS (SELECT COUNT(*) AS n_rel FROM brel),
       |bm_row AS (SELECT 'bm25' AS method, CAST(-1 AS BIGINT) AS query_id,
       |    CAST(n.n_rel AS BIGINT) AS n_rel, CAST(h.n_hit AS BIGINT) AS n_hit,
       |    CAST(COALESCE(h.fr, 0) AS BIGINT) AS first_rank,
       |    CASE WHEN n.n_rel = 0 THEN 0.0 ELSE ${ratio4Sql("h.n_hit", "n.n_rel")} END AS recall4,
       |    CASE WHEN h.fr IS NULL THEN 0.0 ELSE ${ratio4Sql("1", "h.fr")} END AS rr4
       |  FROM (SELECT COUNT(b.doc_id) AS n_hit,
       |          MIN(CASE WHEN b.doc_id IS NOT NULL THEN r15.rk END) AS fr
       |        FROM ret15 r15 LEFT JOIN brel b ON b.doc_id = r15.doc_id) h, bnrel n)
       |SELECT * FROM (
       |  SELECT * FROM ivf_per UNION ALL SELECT * FROM ivf_mac UNION ALL SELECT * FROM bm_row)
       |ORDER BY method, query_id""".stripMargin
  }

  /** q93 oracle: the TextRank fixpoint unrolled to exactly
    * Text.TextRankIters rounds, assembled programmatically so the round
    * count, damping literals (interpolated from the Scala-computed
    * doubles — 1.0 − 0.85 is NOT the double the literal 0.15 parses to),
    * and per-round ROUND-6 re-pin cannot drift from the Spark side. The
    * per-contribution ROUND-6 + neighbor-ordered fold is the q73
    * discipline applied per iteration. */
  private def textRankSql: String = {
    val d = Text.TextRankDamping
    val base = 1.0 - d
    val sb = new StringBuilder
    sb.append(
      s"""WITH sp AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents
        |            WHERE len(string_split(text, ' ')) >= 2),
        |bi AS (SELECT t[CAST(i AS INTEGER)] AS w1, t[CAST(i + 1 AS INTEGER)] AS w2
        |       FROM sp, unnest(generate_series(1, CAST(len(t) AS INTEGER) - 1)) AS u(i)),
        |und AS (SELECT least(w1, w2) AS a, greatest(w1, w2) AS b, COUNT(*) AS w
        |        FROM bi WHERE w1 <> w2 GROUP BY a, b),
        |e AS (SELECT a AS src, b AS dst, w FROM und
        |      UNION ALL SELECT b AS src, a AS dst, w FROM und),
        |ow AS (SELECT src, CAST(SUM(w) AS BIGINT) AS wout FROM e GROUP BY src),
        |r0 AS (SELECT DISTINCT src AS v, 1.0 AS r FROM e)""".stripMargin)
    for (i <- 1 to Text.TextRankIters) {
      sb.append(
        s""",
          |c$i AS (SELECT e.dst AS dst, e.src AS src,
          |          ROUND(r.r * CAST(e.w AS DOUBLE) / CAST(ow.wout AS DOUBLE), 6) AS c
          |        FROM e JOIN ow USING (src) JOIN r${i - 1} r ON r.v = e.src),
          |r$i AS (SELECT dst AS v,
          |          ROUND($base + $d * list_reduce(list_prepend(0.0, array_agg(c ORDER BY src)), (p, q) -> p + q), 6) AS r
          |        FROM c$i GROUP BY dst)""".stripMargin)
    }
    sb.append(
      s"""
        |SELECT v AS token, ROUND(r, 4) AS score FROM r${Text.TextRankIters}
        |ORDER BY score DESC, token LIMIT ${Text.TextRankTopK}""".stripMargin)
    sb.toString
  }

  /** q34 oracle: every MinHash constant (Dedup.P/K/Bands/aCoef/bCoef) and
    * the shingle construction mirror graft.queries.Dedup.q34 exactly; the
    * SQL is assembled programmatically so the 64 hash expressions cannot
    * drift from the Spark side. */
  private def minhashCtes: String = {
    import Dedup.{P, K, Bands, RowsPerBand, aCoef, bCoef}
    val sigCols = (0 until K)
      .map(i => s"MIN((${aCoef(i)}*hm + ${bCoef(i)}) % $P) AS s$i").mkString(", ")
    val bandSelects = (0 until Bands).map { k =>
      val cc = (0 until RowsPerBand).map(j => s"s${RowsPerBand * k + j}").mkString(" || ',' || ")
      s"SELECT doc_id, $k AS band_id, md5($cc) AS bk FROM sig"
    }.mkString(" UNION ALL ")
    val nEq = (0 until K).map(i => s"CASE WHEN sa.s$i = sb.s$i THEN 1 ELSE 0 END").mkString(" + ")
    s"""sp AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents
       |           WHERE len(string_split(text, ' ')) >= 3),
       |sh AS (SELECT doc_id, unnest(list_distinct(list_transform(generate_series(1, CAST(len(t) AS INTEGER) - 2),
       |         i -> t[CAST(i AS INTEGER)] || ' ' || t[CAST(i+1 AS INTEGER)] || ' ' || t[CAST(i+2 AS INTEGER)]))) AS shingle
       |       FROM sp),
       |h AS (SELECT doc_id, ('0x' || substr(md5(shingle), 1, 15))::BIGINT % $P AS hm FROM sh),
       |sig AS (SELECT doc_id, $sigCols FROM h GROUP BY doc_id),
       |bands AS ($bandSelects),
       |cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
       |         FROM bands x JOIN bands y
       |           ON x.band_id = y.band_id AND x.bk = y.bk AND x.doc_id < y.doc_id),
       |pairs AS (SELECT doc_a, doc_b, ($nEq) / ${K.toDouble} AS est_sim
       |          FROM cand JOIN sig sa ON sa.doc_id = doc_a JOIN sig sb ON sb.doc_id = doc_b
       |          WHERE ($nEq) / ${K.toDouble} >= 0.5)""".stripMargin
  }

  private def minhashSql: String =
    s"""WITH $minhashCtes
       |SELECT doc_a, doc_b, est_sim FROM pairs
       |ORDER BY doc_a, doc_b""".stripMargin

  /** q99 oracle: q34's two stages (cand / pairs from [[minhashCtes]])
    * scored against q36's exact-Jaccard truth (its CTE chain inlined
    * under j-prefixed names to avoid colliding with minhash's sp/sh).
    * Counts are scalar subqueries; ratios NULL-guard empty denominators
    * exactly like the Spark side. */
  private def dedupEvalSql: String =
    s"""WITH $minhashCtes,
       |jsp AS (SELECT doc_id, string_split(text, ' ') AS s FROM documents),
       |jidx AS (SELECT doc_id, s, unnest(generate_series(1, len(s) - 2)) AS i
       |         FROM jsp WHERE len(s) >= 3),
       |jsh AS (SELECT DISTINCT doc_id, s[i] || ' ' || s[i+1] || ' ' || s[i+2] AS shingle FROM jidx),
       |jsizes AS (SELECT doc_id, COUNT(*) AS ns FROM jsh GROUP BY doc_id),
       |jinter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
       |           FROM jsh a JOIN jsh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |           GROUP BY a.doc_id, b.doc_id),
       |truth AS (SELECT doc_a, doc_b FROM jinter
       |          JOIN jsizes x ON doc_a = x.doc_id JOIN jsizes y ON doc_b = y.doc_id
       |          WHERE CAST(n_inter AS DOUBLE) / CAST(x.ns + y.ns - n_inter AS DOUBLE) >= 0.5),
       |m AS (
       |  SELECT 'candidates' AS stage,
       |         (SELECT COUNT(*) FROM cand) AS n_pairs,
       |         (SELECT COUNT(*) FROM truth) AS n_truth,
       |         (SELECT COUNT(*) FROM cand c JOIN truth t
       |            ON c.doc_a = t.doc_a AND c.doc_b = t.doc_b) AS tp
       |  UNION ALL
       |  SELECT 'reported',
       |         (SELECT COUNT(*) FROM pairs),
       |         (SELECT COUNT(*) FROM truth),
       |         (SELECT COUNT(*) FROM pairs p JOIN truth t
       |            ON p.doc_a = t.doc_a AND p.doc_b = t.doc_b))
       |SELECT stage, CAST(n_pairs AS BIGINT) AS n_pairs,
       |  CAST(n_truth AS BIGINT) AS n_truth, CAST(tp AS BIGINT) AS tp,
       |  CAST(n_truth - tp AS BIGINT) AS fn,
       |  CASE WHEN n_pairs > 0 THEN ${ratio4Sql("tp", "n_pairs")} ELSE NULL END AS precision4,
       |  CASE WHEN n_truth > 0 THEN ${ratio4Sql("tp", "n_truth")} ELSE NULL END AS recall4
       |FROM m
       |ORDER BY stage""".stripMargin

  /** q57/q66 shared CTE chain: q34's candidate pairs resolved into
    * connected components. DuckDB enumerates every (node, reachable label)
    * via a recursive CTE and takes MIN per node; Spark propagates min
    * labels iteratively — different algorithms, identical fixpoint (min
    * node id per component), which is the point: the oracle pins
    * semantics, not execution. */
  private def ccCtes: String =
    s"""WITH RECURSIVE $minhashCtes,
       |edges AS (SELECT doc_a AS u, doc_b AS v FROM pairs
       |          UNION ALL SELECT doc_b, doc_a FROM pairs),
       |reach(node, r) AS (
       |  SELECT DISTINCT u, u FROM edges
       |  UNION
       |  SELECT e.v, w.r FROM reach w JOIN edges e ON e.u = w.node),
       |comp AS (SELECT node AS doc_id, MIN(r) AS component FROM reach GROUP BY node)""".stripMargin

  /** q100 oracle: [[ccCtes]]'s component table drives the same
    * "csplit:"-salted h60 coin as the Spark side, keyed by
    * COALESCE(component, doc_id); the leakage audit (clusters with >1
    * distinct split) is mirrored even though the construction forces it
    * to zero — the point is that an edit breaking cluster atomicity
    * fails the hash compare. */
  private def leakageSplitSql: String =
    s"""$ccCtes,
       |k AS (SELECT d.doc_id, d.n_chars, c.component,
       |        COALESCE(c.component, d.doc_id) AS skey
       |      FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id),
       |a AS (SELECT doc_id, n_chars, component,
       |        CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val'
       |             ELSE 'test' END AS split
       |      FROM (SELECT k.*,
       |              ('0x' || substr(md5('csplit:' || CAST(skey AS VARCHAR)), 1, 15))::BIGINT % 100 AS b
       |            FROM k)),
       |leak AS (SELECT CAST(COUNT(*) AS BIGINT) AS leaky_clusters FROM (
       |           SELECT component FROM a WHERE component IS NOT NULL
       |           GROUP BY component HAVING COUNT(DISTINCT split) > 1)),
       |g AS (SELECT split, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |        CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       |        CAST(COUNT(DISTINCT component) AS BIGINT) AS n_clusters,
       |        min(doc_id) AS min_doc, max(doc_id) AS max_doc
       |      FROM a GROUP BY split)
       |SELECT split, n_docs, sum_chars, n_clusters, min_doc, max_doc, leaky_clusters
       |FROM g, leak
       |ORDER BY split""".stripMargin

  /** q67/q101 shared oracle: the exact train-x-benchmark shingle
    * audit. q101's Bloom prefilter is candidate reduction only, so
    * both queries answer to this same SQL. */
  private def decontaminationSql: String =
      s"""WITH sp AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents
        |           WHERE len(string_split(text, ' ')) >= 3),
        |sh AS (SELECT doc_id, unnest(list_distinct(list_transform(generate_series(1, CAST(len(t) AS INTEGER) - 2),
        |         i -> t[CAST(i AS INTEGER)] || ' ' || t[CAST(i+1 AS INTEGER)] || ' ' || t[CAST(i+2 AS INTEGER)]))) AS shingle
        |       FROM sp),
        |s AS (SELECT sh.doc_id, d.source, sh.shingle
        |      FROM sh JOIN documents d ON d.doc_id = sh.doc_id),
        |b AS (SELECT doc_id AS bench_doc, shingle FROM s WHERE source = 'src0'),
        |tr AS (SELECT doc_id AS train_doc, shingle FROM s WHERE source <> 'src0')
        |SELECT train_doc, bench_doc, COUNT(*) AS n_shared
        |FROM tr JOIN b USING (shingle)
        |GROUP BY train_doc, bench_doc
        |HAVING COUNT(*) >= ${Text.ContamMinShared}
        |ORDER BY train_doc, bench_doc""".stripMargin

  private def dedupClustersSql: String =
    s"""$ccCtes
       |SELECT doc_id, component,
       |       CAST(COUNT(*) OVER (PARTITION BY component) AS BIGINT) AS n_docs
       |FROM comp
       |ORDER BY doc_id""".stripMargin

  /** q66 oracle: the keep/drop verdict per document — unclustered docs and
    * cluster representatives (component = own doc_id) are kept. */
  private def dedupMaterializeSql: String =
    s"""$ccCtes
       |SELECT d.doc_id, c.component,
       |       (c.component IS NULL OR c.component = d.doc_id) AS keep
       |FROM documents d
       |LEFT JOIN comp c ON c.doc_id = d.doc_id
       |ORDER BY d.doc_id""".stripMargin

  /** q35 oracle: mirrors graft.queries.Dedup.q35 (60-bit simhash over the
    * token multiset, 4 × 15-bit blocks, Hamming ≤ 3). */
  private def simhashSql: String = {
    import Dedup.{SimBits, SimBlocks, BlockBits, MaxHamming}
    val sumCols = (0 until SimBits)
      .map(j => s"SUM(CASE WHEN (hm >> $j) & 1 = 1 THEN 1 ELSE -1 END) AS c$j").mkString(", ")
    val hashExpr = (0 until SimBits)
      .map(j => s"CASE WHEN c$j > 0 THEN (1::BIGINT << $j) ELSE 0 END").mkString(" + ")
    val blockSelects = (0 until SimBlocks).map { b =>
      s"SELECT doc_id, $b AS block_id, (simhash >> ${BlockBits * b}) & ${(1L << BlockBits) - 1} AS bv FROM s"
    }.mkString(" UNION ALL ")
    s"""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
       |h AS (SELECT doc_id, ('0x' || substr(md5(token), 1, 15))::BIGINT AS hm FROM tok),
       |c AS (SELECT doc_id, $sumCols FROM h GROUP BY doc_id),
       |s AS (SELECT doc_id, $hashExpr AS simhash FROM c),
       |blocks AS ($blockSelects),
       |cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
       |         FROM blocks x JOIN blocks y
       |           ON x.block_id = y.block_id AND x.bv = y.bv AND x.doc_id < y.doc_id)
       |SELECT doc_a, doc_b, CAST(bit_count(xor(sa.simhash, sb.simhash)) AS INTEGER) AS hamming
       |FROM cand JOIN s sa ON sa.doc_id = doc_a JOIN s sb ON sb.doc_id = doc_b
       |WHERE bit_count(xor(sa.simhash, sb.simhash)) <= $MaxHamming
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  /** Dsl.ratio4's DuckDB mirror — ROUND(a/b, 4) of nonnegative BIGINTs as
    * the exact-integer half-up quotient: floor((a·20000 + b) / (2b)) /
    * 10⁴. See Dsl.ratio4 for why ROUND of the double is not
    * engine-portable (the q55 lesson). */
  /** q73/q108 shared per-doc LM score chain: add-one-smoothed bigram
    * log-probs (ROUND-6 per row), ordered per-doc fold, ROUND-4 score —
    * ends in the `sc` CTE (doc_id, n_bigrams, avg_neg_logp, perplexity). */
  private def lmPerDocCtes: String =
    """d AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents
      |           WHERE len(string_split(text, ' ')) >= 2),
      |bi AS (SELECT doc_id,
      |         unnest(generate_series(1, CAST(len(t) AS INTEGER) - 1)) AS pos,
      |         unnest(list_transform(generate_series(1, CAST(len(t) AS INTEGER) - 1),
      |           i -> t[CAST(i AS INTEGER)])) AS w1,
      |         unnest(list_transform(generate_series(1, CAST(len(t) AS INTEGER) - 1),
      |           i -> t[CAST(i + 1 AS INTEGER)])) AS w2
      |       FROM d),
      |c AS (SELECT w1, w2, COUNT(*) AS c FROM bi GROUP BY w1, w2),
      |h AS (SELECT w1, CAST(SUM(c) AS BIGINT) AS n_head FROM c GROUP BY w1),
      |v AS (SELECT COUNT(DISTINCT token) AS v
      |      FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)),
      |lp AS (SELECT bi.doc_id, bi.pos,
      |         ROUND(ln(CAST(c.c + 1 AS DOUBLE) / CAST(h.n_head + v.v AS DOUBLE)), 6) AS lp
      |       FROM bi JOIN c ON c.w1 = bi.w1 AND c.w2 = bi.w2
      |       JOIN h ON h.w1 = bi.w1, v),
      |agg AS (SELECT doc_id, COUNT(*) AS n_bigrams,
      |          list_reduce(list_prepend(0.0, array_agg(lp ORDER BY pos)),
      |            (p, q) -> p + q) AS sum_lp
      |        FROM lp GROUP BY doc_id),
      |sc AS (SELECT doc_id, n_bigrams,
      |         ROUND(-sum_lp / CAST(n_bigrams AS DOUBLE), 4) AS avg_neg_logp,
      |         ROUND(exp(-sum_lp / CAST(n_bigrams AS DOUBLE)), 4) AS perplexity
      |       FROM agg)""".stripMargin

  private def ratio4Sql(a: String, b: String): String =
    s"FLOOR((CAST($a AS DOUBLE) * 20000.0 + $b) / (CAST($b AS DOUBLE) * 2.0)) / 10000.0"

  /** q77 oracle: the q37/q38 bucket mirror ranked per SOURCE vector — any
    * shared table bucket makes a candidate; ROUND-4 cosine then
    * row_number per src (sim DESC, dst) ≤ KnnK. Candidate-set equality,
    * not plan shape, is what the compare checks. */
  private def knnCtes: String = {
    import graft.ops.Ann.Tables
    val bucketCols = annBucketCols
    val anyMatch = (0 until Tables).map(t => s"a.b$t = c.b$t").mkString(" OR ")
    s"""s AS (SELECT vec_id, embedding, $bucketCols FROM embeddings),
       |cand AS (SELECT a.vec_id AS src, c.vec_id AS dst,
       |  ROUND(
       |    list_sum(list_transform(range(1, CAST(len(a.embedding) AS INTEGER) + 1),
       |      i -> CAST(a.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)))
       |    / (sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
       |     * sqrt(list_sum(list_transform(c.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 4) AS sim
       |  FROM s a JOIN s c ON a.vec_id <> c.vec_id AND ($anyMatch)),
       |r AS (SELECT src, dst, sim,
       |        CAST(row_number() OVER (PARTITION BY src ORDER BY sim DESC, dst) AS INTEGER) AS rk
       |      FROM cand)""".stripMargin
  }

  private def knnSql: String =
    s"""WITH $knnCtes
       |SELECT src, rk, dst, sim
       |FROM r WHERE rk <= ${Vectors.KnnK}
       |ORDER BY src, rk""".stripMargin

  /** q104 oracle: q77's neighbor CTE + the reciprocal filter + the q57
    * recursive min-reachability components. */
  private def mutualKnnSql: String =
    s"""WITH RECURSIVE $knnCtes,
       |knn AS (SELECT src, dst FROM r WHERE rk <= ${Vectors.KnnK}),
       |mut AS (SELECT a.src, a.dst FROM knn a
       |        JOIN knn b ON b.src = a.dst AND b.dst = a.src
       |        WHERE a.src < a.dst),
       |edges AS (SELECT src AS u, dst AS v FROM mut
       |          UNION ALL SELECT dst, src FROM mut),
       |reach(node, lbl) AS (
       |  SELECT DISTINCT u, u FROM edges
       |  UNION
       |  SELECT e.v, w.lbl FROM reach w JOIN edges e ON e.u = w.node),
       |comp AS (SELECT node AS vec_id, MIN(lbl) AS cluster FROM reach GROUP BY node)
       |SELECT vec_id, cluster,
       |       CAST(COUNT(*) OVER (PARTITION BY cluster) AS BIGINT) AS n_members
       |FROM comp
       |ORDER BY vec_id""".stripMargin

  /** q85 oracle: the first JlDims planes rendered as literal lists, each
    * projection a sequential-double list_reduce (the Ann discipline) then
    * ROUND 4; parallel unnests zip (vec_id, p, value) long-format. */
  private def jlSql: String = {
    import graft.ops.Ann.{Dim, weights}
    val comps = (0 until Vectors.JlDims).map { p =>
      val w = weights(p).mkString("[", ",", "]")
      s"""ROUND(list_reduce(list_transform(generate_series(1, $Dim),
         |    i -> CAST(embedding[CAST(i AS INTEGER)] AS DOUBLE) * CAST(($w)[CAST(i AS INTEGER)] AS DOUBLE)),
         |    (a, b) -> a + b), 4)""".stripMargin
    }
    s"""SELECT vec_id, unnest(generate_series(0, ${Vectors.JlDims - 1})) AS p,
       |  unnest([${comps.mkString(",\n")}]) AS value
       |FROM embeddings
       |ORDER BY vec_id, p""".stripMargin
  }

  /** The L hyperplane-LSH bucket columns (`b0..b${L-1}`) as DuckDB SQL —
    * ONE rendering of graft.ops.Ann.weights as literal lists with
    * list_reduce sign tests (sequential DOUBLE fold, matching Spark's
    * aggregate() order, so every bucket id is bit-identical), shared by
    * the q38 (query-vs-corpus) and q37 (pairwise) oracles so the two
    * cannot drift from the single Spark implementation they mirror. */
  private def annBucketCols: String = {
    import graft.ops.Ann.{Tables, BitsPerTable, Dim, weights}
    def planeCase(p: Int, bit: Int): String = {
      val w = weights(p).mkString("[", ",", "]")
      s"""CASE WHEN list_reduce(list_transform(generate_series(1, $Dim),
         |  i -> CAST(embedding[CAST(i AS INTEGER)] AS DOUBLE) * CAST(($w)[CAST(i AS INTEGER)] AS DOUBLE)),
         |  (a, b) -> a + b) > 0 THEN ${1L << bit}::BIGINT ELSE 0::BIGINT END""".stripMargin
    }
    (0 until Tables).map { t =>
      val expr = (0 until BitsPerTable).map(j => planeCase(t * BitsPerTable + j, j)).mkString(" + ")
      s"($expr) AS b$t"
    }.mkString(", ")
  }

  /** q38 oracle: a vector is a candidate iff any of the L table buckets
    * (annBucketCols) matches the query's. Cosine ranking mirrors q31. */
  private def annSql: String = {
    import graft.ops.Ann.Tables
    val bucketCols = annBucketCols
    val anyMatch = (0 until Tables).map(t => s"e.b$t = q.qb$t").mkString(" OR ")
    val qCols = (0 until Tables).map(t => s"b$t AS qb$t").mkString(", ")
    s"""WITH b AS (SELECT vec_id, embedding, $bucketCols FROM embeddings),
       |q AS (SELECT embedding AS qvec, $qCols FROM b WHERE vec_id = 0)
       |SELECT e.vec_id,
       |  ROUND(
       |    list_sum(list_transform(range(1, CAST(len(e.embedding) AS INTEGER) + 1),
       |      i -> CAST(e.embedding[i] AS DOUBLE) * CAST(q.qvec[i] AS DOUBLE)))
       |    / (sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
       |     * sqrt(list_sum(list_transform(q.qvec, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 4) AS sim
       |FROM b e, q
       |WHERE e.vec_id <> 0 AND ($anyMatch)
       |ORDER BY sim DESC, vec_id
       |LIMIT 10""".stripMargin
  }

  /** q76 oracle: the SHARED chunk-geometry CTEs at q76's non-overlapping
    * constants (Dedup.BoilerplateChunkLen/Stride), aggregated to digest
    * level with the >1-occurrence, >1-doc HAVING — chunk text joins with
    * single spaces on both sides, so digests are byte-identical. */
  private def boilerplateSql: String =
    s"""${chunkCtes(Dedup.BoilerplateChunkLen, Dedup.BoilerplateChunkStride)}
       |SELECT digest, COUNT(*) AS n_occurrences,
       |  COUNT(DISTINCT doc_id) AS n_docs,
       |  CAST(MIN(n_chunk_tokens) AS INTEGER) AS n_chunk_tokens,
       |  MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
       |FROM ch
       |GROUP BY digest
       |HAVING COUNT(*) > 1 AND COUNT(DISTINCT doc_id) > 1
       |ORDER BY digest""".stripMargin

  /** q136 oracle: the q76 chunk grid + flag criterion, then per-doc
    * reassembly of the unflagged chunks in chunk order (string_agg with
    * ORDER BY; single-space joins match the grid's lossless round-trip).
    * A fully-scrubbed doc keeps an empty string, matching Spark's
    * array_join over an empty array. */
  private def boilerplateScrubSql: String =
    s"""${chunkCtes(Dedup.BoilerplateChunkLen, Dedup.BoilerplateChunkStride)},
       |boiler AS (SELECT digest FROM ch
       |           GROUP BY digest
       |           HAVING COUNT(*) > 1 AND COUNT(DISTINCT doc_id) > 1),
       |m AS (SELECT doc_id, chunk_idx, n_chunk_tokens, chunk_text,
       |        digest IN (SELECT digest FROM boiler) AS is_b
       |      FROM ch)
       |SELECT doc_id,
       |  CAST(COUNT(*) AS BIGINT) AS n_chunks,
       |  CAST(COUNT(*) FILTER (WHERE is_b) AS BIGINT) AS n_removed,
       |  CAST(COALESCE(SUM(n_chunk_tokens) FILTER (WHERE NOT is_b), 0) AS BIGINT) AS n_tokens_kept,
       |  COALESCE(string_agg(chunk_text, ' ' ORDER BY chunk_idx) FILTER (WHERE NOT is_b), '') AS text_clean
       |FROM m
       |GROUP BY doc_id
       |ORDER BY doc_id""".stripMargin

  /** Shared q37/q81 candidate-pair CTEs: the same annBucketCols produce
    * each vector's L table buckets; a pair is a candidate iff it shares
    * label AND any table's bucket (exactly the Spark side's
    * (label, t, bucket) equi-join + distinct). The oracle states the
    * candidate predicate on the quadratic join for clarity —
    * candidate-set equality, not plan shape, is what the compare checks.
    * Yields `apairs(label, vec_a, vec_b, sim)`. */
  private def annPairsCtes: String = {
    import graft.ops.Ann.Tables
    val bucketCols = annBucketCols
    val anyMatch = (0 until Tables).map(t => s"a.b$t = b.b$t").mkString(" OR ")
    s"""s AS (SELECT vec_id, label, embedding, $bucketCols FROM embeddings),
       |apairs AS (SELECT a.label, a.vec_id AS vec_a, b.vec_id AS vec_b,
       |  ROUND(
       |    list_sum(list_transform(range(1, CAST(len(a.embedding) AS INTEGER) + 1),
       |      i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
       |    / (sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
       |     * sqrt(list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 4) AS sim
       |  FROM s a JOIN s b
       |    ON a.label = b.label AND a.vec_id < b.vec_id AND ($anyMatch))""".stripMargin
  }

  private def annPairsSql: String =
    s"""WITH ${annPairsCtes}
       |SELECT label, vec_a, vec_b, sim
       |FROM apairs
       |ORDER BY sim DESC, vec_a, vec_b
       |LIMIT 20""".stripMargin

  /** q81 oracle: the q57 recursive-CC mirror over the thresholded cosine
    * candidate graph — reachable-set minimum per node = the same fixpoint
    * Spark's min-label propagation converges to. */
  private def semanticDedupSql: String =
    s"""WITH RECURSIVE ${annPairsCtes},
       |edges AS (SELECT vec_a AS u, vec_b AS v FROM apairs WHERE sim >= ${Vectors.SemanticDupSim}
       |          UNION ALL SELECT vec_b, vec_a FROM apairs WHERE sim >= ${Vectors.SemanticDupSim}),
       |reach(node, r) AS (
       |  SELECT DISTINCT u, u FROM edges
       |  UNION
       |  SELECT e.v, w.r FROM reach w JOIN edges e ON e.u = w.node),
       |comp AS (SELECT node AS vec_id, MIN(r) AS component FROM reach GROUP BY node)
       |SELECT vec_id, component,
       |       CAST(COUNT(*) OVER (PARTITION BY component) AS BIGINT) AS n_vecs
       |FROM comp
       |ORDER BY vec_id""".stripMargin
}
