package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.tables.Tables

/** Text-analysis / LLM-training-data operators over `documents`
  * (SURVEY.md §2.2 q29, q30 + north-star text ops q36, q39–q42).
  *
  * All tokenization is `split(text, ' ')` — the documents are synthetic
  * space-separated token streams (FIXTURES.md) — and every op is built from
  * codegen'd expressions (split/explode/higher-order funcs), so each one
  * scales as a plain shuffle-grouped pipeline.
  */
object Text {

  private def docs(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)

  /** Exploded (doc_id, token) stream, multiset semantics. */
  private def tokens(spark: SparkSession, sfDir: String): DataFrame =
    docs(spark, sfDir).select(col("doc_id"), col("lang"),
      explode(split(col("text"), " ")).as("token"))

  /** Exploded (doc_id, shingle) word-trigram stream, multiset semantics —
    * the shingling stage shared by exact n-gram Jaccard (q36) and
    * MinHash-LSH (q34).
    *
    * The token array is materialized in its OWN projection before the
    * transform: higher-order-function lambdas are interpreted with no
    * subexpression elimination, so an inline `split` would be re-evaluated
    * by every `element_at` call — O(tokens²) work per doc, measured as
    * 7.2 s of q36's 12 s at sf0.1. CollapseProject keeps the barrier
    * because `toks` is referenced more than once by a non-cheap expression. */
  private[graft] def rawShingles(spark: SparkSession, sfDir: String): DataFrame =
    shinglesOf(docs(spark, sfDir))

  /** The same shingling on an arbitrary (doc_id, text, …) frame — shared
    * with the streaming incremental dedup (s14), whose micro-batches are
    * not table loads. */
  private[graft] def shinglesOf(documents: DataFrame): DataFrame = {
    val toks = col("toks")
    documents
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .filter(size(toks) >= 3)
      .select(col("doc_id"),
        explode(transform(sequence(lit(1), size(toks) - 2),
          i => concat_ws(" ", element_at(toks, i), element_at(toks, i + 1), element_at(toks, i + 2))))
          .as("shingle"))
  }

  /** q29 core: exact-duplicate detection by content hash — groups of
    * identical documents (md5 over the UTF-8 bytes, comparable with DuckDB's
    * md5). Exposed on a plain DataFrame so SemanticsSpec can assert the
    * group/filter behavior on planted duplicates (the parquet corpus has no
    * exact dups at the checked scale factors, so the oracle row alone would
    * pass vacuously at 0 rows). */
  private[graft] def exactDupGroups(documents: DataFrame): DataFrame =
    documents
      .groupBy(md5(col("text").cast("binary")).as("h"))
      .agg(count(lit(1)).as("n_copies"), min(col("doc_id")).as("rep_doc"))
      .filter(col("n_copies") >= 2)
      .orderBy(col("h"))

  def q29(spark: SparkSession, sfDir: String): DataFrame =
    exactDupGroups(docs(spark, sfDir))

  /** q30: corpus token frequencies, top 20. */
  def q30(spark: SparkSession, sfDir: String): DataFrame =
    tokens(spark, sfDir)
      .groupBy(col("token"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token"))
      .limit(20)

  /** q36: exact n-gram (word-trigram) Jaccard near-duplicate pairs with
    * J ≥ 0.5 — the exact verifier next to q34's MinHash-LSH sketch.
    *
    * Candidate generation is PPJoin-style prefix filtering (Chaudhuri et
    * al. ICDE'06; Xiao et al. WWW'08) instead of the all-pairs
    * shared-shingle self-join: under one global shingle order (ascending
    * document frequency, then shingle — rarest first), any pair with
    * J(A,B) ≥ t must share a shingle within the first
    * |A| − ⌈t·|A|⌉ + 1 elements of BOTH docs' orderings, so joining only
    * those prefixes loses no true pair. The join key set is each doc's
    * RAREST shingles, which is what kills the scale hazard: a boilerplate
    * shingle held by m docs no longer emits O(m²) rows — hot shingles sort
    * to the back of every doc and stay out of the join entirely. Exact
    * intersections are then computed only for the surviving candidates. */
  /** The per-doc (df, hm)-sorted shingle array shared by q36 (Jaccard) and
    * q84 (containment): rarity rank = array position, set size = array
    * length, any prefix = a slice, the verification set = the hm
    * projection. `sh` must be the distinct (doc_id, hm) stream and
    * `dfShared` its df ≥ 2 document frequencies. */
  private def docShingleArrays(sh: DataFrame, dfShared: DataFrame): DataFrame =
    sh.join(dfShared, Seq("hm"), "left")
      .select(col("doc_id"),
        struct(coalesce(col("df"), lit(1L)).as("df"), col("hm").as("hm")).as("e"))
      .groupBy(col("doc_id"))
      .agg(array_sort(collect_list(col("e"))).as("arr"))
      .select(col("doc_id"), col("arr"), size(col("arr")).cast("long").as("ns"))

  def q36(spark: SparkSession, sfDir: String): DataFrame = {
    val t = 0.5 // Jaccard threshold; prefix length below is derived from it
    // The whole candidate pipeline runs on HASHED shingles — 16-byte
    // (doc_id, hm) rows instead of ~60-byte strings — so every shuffle,
    // sort, and set intersection downstream is on fixed-width longs (the
    // same never-shuffle-raw-ngrams posture as q34's signature build).
    // xxhash64 is codegen'd and internal-only: the oracle computes the same
    // RESULT from raw strings, and a 64-bit collision among the ≤ tens of
    // millions of distinct shingles any realistic corpus shard holds is
    // ~1e-10 — far below the float-rounding agreement this compare already
    // relies on. (r3 profile, sf0.1: string pipeline 13.2 s warm → this
    // form ~3 s.)
    // NOT pinned (r11): dfShared (an aggregate of this frame) joins back
    // onto it inside docShingleArrays, but all consumers sit in ONE
    // action — the distinct's shuffle exchange is canonically identical
    // on every branch, so ReuseExchange computes it once and each branch
    // reads the same shuffle output (deterministic SET; no lazy-cache
    // mid-fill state exists to under-match). The r9 eager checkpoint here
    // split the plan into serial jobs — the r10 verdict's q36 regression.
    val sh = rawShingles(spark, sfDir)
      .select(col("doc_id"), xxhash64(col("shingle")).as("hm"))
      .distinct()
    // Document frequency as an AGGREGATE, not a window: windowing the full
    // shingle stream costs a shuffle + sort of every row per pass (r3
    // profile: the two-window form ran 16.7 s warm at sf0.1 vs 2.1 s for
    // the plan it replaced). dfShared keeps only shingles held by ≥2 docs
    // (rare in a deduped corpus), so Catalyst/AQE broadcasts it back onto
    // the stream instead of re-shuffling it.
    val dfShared = sh.groupBy(col("hm")).agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2)
    // ONE doc_id shuffle builds everything per-doc in a single aggregate:
    // the (df, hm)-sorted shingle array (rarity rank = array position — the
    // r4 form ran a row_number window PLUS a sizes aggregate PLUS a
    // collect_set aggregate, three full-stream doc_id shuffles and a
    // per-partition sort; this is one hash aggregate, and the only sort
    // left is within each doc's own array: 5.4 s warm → 2.9 s at sf0.1).
    // df of an unshared shingle is 1 via the left join — the rank must be
    // computed over the WHOLE set for the completeness guarantee to hold.
    // three consumers below (prefix explode + both verify joins), still
    // ONE action: the per-doc aggregate's exchange is reused across the
    // branches, not recomputed — and never a lazy cache (the q104
    // cold-session under-match was a cache observed mid-fill).
    val perDoc = docShingleArrays(sh, dfShared)
    // Prefix = the (ns − ⌈t·ns⌉ + 1) globally-rarest shingles of each doc —
    // DERIVED from t so tuning the threshold keeps the completeness
    // guarantee (a hardcoded t=0.5 form would silently under- or
    // over-prefix at any other t). Shingles held by a single doc can't
    // match anything — drop them from the join AFTER the prefix is cut.
    val prefixLen = (col("ns") - ceil(col("ns") * t).cast("long") + 1).cast("int")
    // posexplode, not explode (r18): the shingle's 1-based rank i in the
    // doc's FULL (df, hm)-sorted array feeds the PPJoin POSITION filter
    // below. The df ≥ 2 filter moves after the explode (same element set —
    // a df = 1 shingle exists in exactly one doc and can never produce a
    // cross-doc match anyway), so ranks stay positions in `arr`.
    val prefix = perDoc
      .select(col("doc_id"), col("ns"),
        posexplode(slice(col("arr"), lit(1), prefixLen)).as(Seq("p", "e")))
      .filter(col("e").getField("df") >= 2)
      .select(col("doc_id"), col("e").getField("hm").as("hm"), col("ns"),
        (col("p") + 1).as("i"))
    // Candidate pairs, with the J ≥ t length bound applied IN the join:
    // t·|A| ≤ |B| ≤ |A|/t (both from inter ≤ min and inter ≥ t/(1+t)·(na+nb)),
    // so size-skewed pairs never even reach the distinct — plus the PPJoin
    // POSITION filter (r18, Xiao et al. WWW'08): a match on ranks (i, j)
    // bounds the overlap at 1 + min(na − i, nb − j) (everything ranked
    // before the SMALLEST shared shingle is unshared on at least one
    // side), so rows where that bound misses α = ⌈t/(1+t)·(na+nb)⌉ —
    // exact integers for t = 0.5: (na + nb + 2) div 3 — drop BEFORE the
    // distinct. Completeness: a true pair's smallest shared prefix
    // shingle always satisfies the bound, and any one surviving row keeps
    // the pair (measured at sf0.1: 309,983 → 124,839 distinct candidates).
    val cand = prefix.select(col("doc_id").as("doc_a"), col("hm"), col("ns").as("na"), col("i").as("ia"))
      .join(prefix.select(col("doc_id").as("doc_b"), col("hm"), col("ns").as("nb"), col("i").as("ib")),
        Seq("hm"))
      .filter(col("doc_a") < col("doc_b") &&
        col("nb").cast("double") >= col("na").cast("double") * t &&
        col("nb").cast("double") <= col("na").cast("double") / t &&
        expr("1 + least(na - ia, nb - ib) >= (na + nb + 2) div 3"))
      .select(col("doc_a"), col("doc_b"))
      .distinct()
    // Exact |A∩B| per candidate via per-doc shingle ARRAYS — one row per
    // candidate, no join fan-out. (The
    // r3 first cut joined each candidate back to the shingle stream twice:
    // candidates × |A| ≈ 21M intermediate rows at sf0.1, 12.5 s warm. This
    // form is one small distinct + two hash joins on doc_id.) The set is
    // the hm projection of the SAME cached per-doc array — no extra
    // full-stream aggregate — RE-SORTED by hm (the struct array is in
    // global (df, hm) order) so the count is the allocation-free native
    // merge (sortedIntersectCount, r18) instead of array_intersect's
    // per-candidate hash set + materialized intersection that only fed
    // size(); the sort runs once per DOC (5k rows at sf0.1), the merge
    // once per CANDIDATE (310k rows) — guide §1.2 per-task work.
    val docSets = perDoc.select(col("doc_id"),
      array_sort(transform(col("arr"), e => e.getField("hm"))).as("set"), col("ns"))
    val jac = col("n_inter").cast("double") /
      (col("na") + col("nb") - col("n_inter")).cast("double")
    cand
      .join(docSets.select(col("doc_id").as("doc_a"), col("set").as("set_a"), col("ns").as("na")), Seq("doc_a"))
      .join(docSets.select(col("doc_id").as("doc_b"), col("set").as("set_b"), col("ns").as("nb")), Seq("doc_b"))
      .withColumn("n_inter", graft.ops.Dsl.sortedIntersectCount(col("set_a"), col("set_b")))
      .select(col("doc_a"), col("doc_b"), col("n_inter"), jac.as("jaccard"))
      .filter(jac >= lit(t))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** q54 chunk geometry: 32-token chunks every 24 tokens (8-token overlap).
    * The last chunk starts at the final stride position that still adds new
    * tokens, so every token lands in at least one chunk. */
  val ChunkLen = 32
  val ChunkStride = 24

  /** q54: document chunking — the context-window segmentation stage in
    * front of LLM training/embedding: fixed-size overlapping token windows,
    * each with its position and content digest (the digest is what a
    * downstream exact-dedup over CHUNKS, not docs, would key on).
    *
    * Scale posture: explode of a per-doc chunk-index sequence, then
    * row-wise `slice` over the materialized token array — all codegen'd
    * projections, no shuffle at all (the driver's verify sink adds the only
    * exchange). Per-doc cost is O(n_tokens × chunks-per-token = ~2.3). */
  def q54(spark: SparkSession, sfDir: String): DataFrame = {
    val toks = col("toks")
    val nt = size(toks)
    // highest chunk index: 0 for short docs, else ceil((nt-len)/stride) —
    // exact in double (small-int division), mirrored as integer div in SQL
    val kMax = when(nt > ChunkLen,
      floor((nt - ChunkLen + lit(ChunkStride - 1)) / lit(ChunkStride)).cast("int"))
      .otherwise(0)
    docs(spark, sfDir)
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .select(col("doc_id"), toks, explode(sequence(lit(0), kMax)).as("chunk_idx"))
      .select(col("doc_id"), col("chunk_idx"),
        (col("chunk_idx") * ChunkStride).as("start_tok"),
        slice(toks, col("chunk_idx") * ChunkStride + 1, lit(ChunkLen)).as("chunk"))
      .select(col("doc_id"), col("chunk_idx"), col("start_tok"),
        size(col("chunk")).as("n_chunk_tokens"),
        md5(concat_ws(" ", col("chunk")).cast("binary")).as("digest"))
      .orderBy(col("doc_id"), col("chunk_idx"))
  }

  /** q39: language identification by corpus-learned token profiles — each
    * doc votes with its tokens' per-language frequencies; argmax language
    * (ties broken alphabetically). A self-supervised n-gram langid over the
    * corpus itself: profile build + score are two grouped joins. */
  def q39(spark: SparkSession, sfDir: String): DataFrame = {
    val tok = tokens(spark, sfDir)
    val profile = tok.groupBy(col("token"), col("lang").as("cand_lang"))
      .agg(count(lit(1)).as("cnt"))
    val scored = tok.select(col("doc_id"), col("lang"), col("token"))
      .join(profile, Seq("token"))
      .groupBy(col("doc_id"), col("lang"), col("cand_lang"))
      .agg(sum(col("cnt")).as("score"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("score").desc, col("cand_lang"))
    scored
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("lang"), col("cand_lang").as("pred_lang"), col("score"))
      .orderBy(col("doc_id"))
  }

  /** q40: document quality scoring — token count, type-token ratio, average
    * token length, and a categorical quality flag. Pure exact arithmetic. */
  def q40(spark: SparkSession, sfDir: String): DataFrame = {
    val sp = split(col("text"), " ")
    val nTokens = size(sp)
    val nDistinct = size(array_distinct(sp))
    val ttr = nDistinct.cast("double") / nTokens.cast("double")
    docs(spark, sfDir)
      .select(col("doc_id"), col("n_chars"),
        nTokens.as("n_tokens"),
        nDistinct.as("n_distinct"),
        ttr.as("ttr"),
        ((length(col("text")) - nTokens + 1).cast("double") / nTokens.cast("double"))
          .as("avg_token_len"),
        when(nTokens >= 20 && ttr >= 0.2, "good").otherwise("low").as("quality"))
      .orderBy(col("doc_id"))
  }

  /** q41: token counting — whitespace tokens and a BPE-ish regex token
    * count (runs of letters), plus chars-per-token. */
  def q41(spark: SparkSession, sfDir: String): DataFrame =
    docs(spark, sfDir)
      .select(col("doc_id"),
        size(split(col("text"), " ")).as("ws_tokens"),
        regexp_count(col("text"), lit("[a-z]+")).as("re_tokens"),
        (col("n_chars").cast("double") / size(split(col("text"), " ")).cast("double"))
          .as("chars_per_token"))
      .orderBy(col("doc_id"))

  /** q58 output size: top terms kept per document. */
  val TfIdfTopK = 3

  /** q58: TF-IDF term weighting — the top-k most characteristic terms per
    * document under the smoothed formula tfidf = tf · (ln((1+N)/(1+df)) + 1)
    * (the sklearn smoothing: defined even for df = N, never negative).
    * Output: (doc_id, token, tf, df, tfidf ROUND 4, rk), ties broken by
    * token, ordered by doc_id, rk.
    *
    * Scale posture: tf is ONE shuffle of the token stream on (doc, token);
    * df is an aggregate OF tf (|vocab| rows, not the stream — no second
    * stream shuffle); the corpus size N joins in as a broadcast single-row
    * aggregate, so the plan never collects to the driver; the top-k window
    * re-shuffles only the per-doc term table. The one float op (ln) happens
    * per distinct (token-df, N) operand pair — identical IEEE inputs on
    * both engines — and feeds ROUND(…,4) before any compare. */
  def q58(spark: SparkSession, sfDir: String): DataFrame = {
    val tf = tokens(spark, sfDir)
      .groupBy(col("doc_id"), col("token")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
    val nDocs = docs(spark, sfDir).agg(count(lit(1)).as("n_docs"))
    val idf = log((lit(1.0) + col("n_docs").cast("double")) /
      (lit(1.0) + col("df").cast("double"))) + lit(1.0)
    val scored = tf.join(dfreq, Seq("token"))
      .crossJoin(broadcast(nDocs))
      .select(col("doc_id"), col("token"), col("tf"), col("df"),
        round(col("tf").cast("double") * idf, 4).as("tfidf"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("tfidf").desc, col("token"))
    scored
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= TfIdfTopK)
      .select(col("doc_id"), col("token"), col("tf"), col("df"), col("tfidf"), col("rk"))
      .orderBy(col("doc_id"), col("rk"))
  }

  /** q64 output size: next-token candidates kept per head token. */
  val BigramTopK = 3

  /** q64: bigram next-token model — corpus-wide bigram counts and the
    * conditional probability P(next | token), top-3 continuations per head
    * token (count desc, next asc): the simplest statistical language model,
    * and the perplexity-style corpus-quality signal a training pipeline
    * computes before spending GPU hours. Probability is an exact BIGINT
    * ratio evaluated once in double then ROUND-4 — no float aggregation.
    *
    * Scale posture: the bigram stream is the same materialize-toks-then-
    * explode shape as [[rawShingles]] (one projection per token array, no
    * O(tokens²) recompute); counts are one shuffle of (w1, w2); head totals
    * aggregate the COUNTS table (vocab-sized), not the stream; the top-k
    * window partitions by head token over ≤ vocab² rows. */
  /** Positional (doc_id, pos, w1, w2) adjacent-token-pair stream — the
    * bigram construction shared by q64/q73/q74, in the same
    * materialize-toks-then-explode shape as [[rawShingles]] (one
    * projection per token array; an inline split would re-evaluate per
    * element-access, the measured O(tokens²) trap). */
  private[queries] def bigramsOf(documents: DataFrame): DataFrame = {
    val toks = col("toks")
    documents
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .filter(size(toks) >= 2)
      .select(col("doc_id"), explode(transform(sequence(lit(1), size(toks) - 1),
        i => struct(i.as("pos"), element_at(toks, i).as("w1"),
          element_at(toks, i + 1).as("w2")))).as("b"))
      .select(col("doc_id"), col("b.pos").as("pos"),
        col("b.w1").as("w1"), col("b.w2").as("w2"))
  }

  private[queries] def bigramPairs(spark: SparkSession, sfDir: String): DataFrame =
    bigramsOf(docs(spark, sfDir))

  def q64(spark: SparkSession, sfDir: String): DataFrame = {
    val bi = bigramPairs(spark, sfDir).select(col("w1"), col("w2"))
    val counts = bi.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("n"))
    val heads = counts.groupBy(col("w1")).agg(sum(col("n")).as("n_head"))
    val w = Window.partitionBy(col("w1")).orderBy(col("n").desc, col("w2"))
    counts.join(heads, Seq("w1"))
      .select(col("w1"), col("w2"), col("n"), col("n_head"),
        graft.ops.Dsl.ratio4(col("n"), col("n_head")).as("p"), // D6: integer ratio
        row_number().over(w).as("rk"))
      .filter(col("rk") <= BigramTopK)
      .orderBy(col("w1"), col("rk"))
  }

  /** q67: contamination floor — pairs reported from this many shared
    * trigrams up (well under 1% of a typical doc's shingle set here, i.e. a
    * high-recall audit list, not a removal decision). */
  val ContamMinShared = 3

  /** q67: benchmark decontamination — the audit every serious LLM pipeline
    * runs before training: which training documents share word-trigram
    * shingles with the held-out evaluation set (source `src0` stands in for
    * the benchmark suite)? Output: (train doc, benchmark doc, number of
    * shared distinct shingles) for every pair sharing ≥ 3.
    *
    * Scale posture: this is q36's shared-shingle join CONSTRAINED to
    * train × benchmark — the fan-out per shingle is bounded by the
    * benchmark side, which is always tiny relative to the corpus (that
    * asymmetry is inherent to decontamination, so no prefix filter is
    * needed); the join runs on hashed shingles (the q36 fixed-width-longs
    * posture), and the oracle computes the same intersection counts from
    * raw strings. */
  def q67(spark: SparkSession, sfDir: String): DataFrame = {
    val (train, bench) = contamSplit(spark, sfDir)
    contamAudit(train, bench).orderBy(col("train_doc"), col("bench_doc"))
  }

  /** q67/q101's two sides: distinct (train_doc, hm) and (bench_doc, hm)
    * shingle hashes, with source `src0` as the benchmark. Hashed BEFORE
    * distinct — same fixed-width-longs posture as q36: the distinct's
    * shuffle carries (doc_id, long), never the raw strings. */
  private def contamSplit(spark: SparkSession, sfDir: String): (DataFrame, DataFrame) = {
    val s = rawShingles(spark, sfDir)
      .select(col("doc_id"), xxhash64(col("shingle")).as("hm"))
      .distinct()
      .join(docs(spark, sfDir).select(col("doc_id"), col("source")), Seq("doc_id"))
    (s.filter(col("source") =!= "src0").select(col("doc_id").as("train_doc"), col("hm")),
      s.filter(col("source") === "src0").select(col("doc_id").as("bench_doc"), col("hm")))
  }

  /** The contamination audit kernel of q67, q101 and s19: join distinct
    * (train_doc, hm) with (bench_doc, hm) on hm and keep the pairs sharing
    * at least [[ContamMinShared]] hashes. With a Bloom over the benchmark
    * hashes, train hashes it rejects drop map-side before the join. */
  private[graft] def contamAudit(train: DataFrame, bench: DataFrame,
      bloom: Option[Array[Byte]] = None): DataFrame =
    bloom.fold(train)(bf => train.filter(mightContain(bf, col("hm"))))
      .join(bench, Seq("hm"))
      .groupBy(col("train_doc"), col("bench_doc"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= ContamMinShared)

  /** q101 Bloom sizing: capacity upper bound for the BENCHMARK side's
    * distinct shingles and the target false-positive rate. Capacity only
    * tunes prefilter efficiency, never correctness — false positives are
    * removed by the exact join, false negatives are impossible by the
    * Bloom guarantee. */
  val BloomEstItems = 1L << 17
  val BloomFpp = 0.01

  /** q101: Bloom-prefiltered decontamination — q67's audit restructured
    * the way Spark's own runtime row-level filtering works, for the
    * regime where the TRAIN shingle stream is 100 TB-scale and the
    * benchmark side is (by definition) small: build a Bloom filter over
    * the benchmark's distinct shingle hashes with the native
    * `BloomFilterAggregate` (one-pass, mergeable partials — the q88
    * sketch posture), ship the serialized sketch to every task as a
    * literal (exactly how `InjectRuntimeFilter` plants its subquery
    * result), and drop train shingles map-side BEFORE the shuffle-join
    * against the benchmark set. The exact join then removes the Bloom's
    * false positives, so the RESULT is bit-identical to q67 — the two
    * queries share one oracle, and LlmOpsSpec pins row equality plus the
    * prefilter's no-false-negative superset law.
    *
    * Scale posture: the prefilter turns the join's train-side input from
    * "every distinct train shingle" into "train shingles that (probably)
    * appear in the benchmark" — at fpp 1% the shuffled volume drops to
    * ~1% of the stream plus the true overlap, while the Bloom itself is
    * ~154 KB at 2^17 capacity (a broadcast-dim-sized artifact built
    * distributed, one row to the driver). might_contain is codegen'd, so
    * the drop happens inside the scan's WholeStageCodegen. */
  def q101(spark: SparkSession, sfDir: String): DataFrame = {
    val (train, bench) = contamSplit(spark, sfDir)
    contamAudit(train, bench, Some(bloomOf(bench.select(col("hm")))))
      .orderBy(col("train_doc"), col("bench_doc"))
  }

  /** Distributed one-pass Bloom build over a single LONG column `hm`;
    * returns the serialized sketch (null for an empty frame — the
    * might_contain literal then rejects everything, matching the empty
    * benchmark's empty audit). */
  private[graft] def bloomOf(hm: DataFrame): Array[Byte] = {
    import org.apache.spark.sql.GraftColumnBridge
    import org.apache.spark.sql.catalyst.expressions.Literal
    val numBits = org.apache.spark.util.sketch.BloomFilter
      .optimalNumOfBits(BloomEstItems, BloomFpp)
    val agg = GraftColumnBridge.column(
      new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(
        GraftColumnBridge.expression(col("hm")),
        Literal(BloomEstItems), Literal(numBits)).toAggregateExpression())
    hm.agg(agg.as("bf")).head().getAs[Array[Byte]](0)
  }

  /** Codegen'd membership probe against a driver-built Bloom literal. */
  private[graft] def mightContain(bloom: Array[Byte], c: Column): Column = {
    import org.apache.spark.sql.GraftColumnBridge
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    GraftColumnBridge.column(BloomFilterMightContain(
      Literal(bloom, org.apache.spark.sql.types.BinaryType),
      GraftColumnBridge.expression(c)))
  }

  /** q70: edit-distance threshold for the fuzzy vocabulary audit. */
  val FuzzyMaxDist = 3

  /** q70: fuzzy string matching — Levenshtein near-matches over the
    * DISTINCT part-name vocabulary (typo/variant detection, the
    * entity-resolution primitive the hash-based dedups can't express:
    * "cold rod" vs "blue rod" collide in NO hash scheme). Two scale moves:
    * the comparison runs on the deduplicated vocabulary, not the rows
    * (vocabulary size is data-bounded, row count is not — each name
    * carries its occurrence count instead), and candidate pairs are
    * blocked on the first token, the standard ER blocking that keeps the
    * quadratic term per block (exactness of every REPORTED distance is
    * unaffected; blocking bounds recall, exactly like q34's banding).
    * levenshtein is the same DP definition in both engines; distances are
    * exact integers. */
  def q70(spark: SparkSession, sfDir: String): DataFrame = {
    val names = graft.tables.Tables.part(spark, sfDir)
      .groupBy(col("p_name")).agg(count(lit(1)).as("n_parts"))
      .select(col("p_name"), col("n_parts"),
        split(col("p_name"), " ").getItem(0).as("tok1"))
    val a = names.select(col("p_name").as("name_a"), col("n_parts").as("n_a"), col("tok1"))
    val b = names.select(col("p_name").as("name_b"), col("n_parts").as("n_b"), col("tok1"))
    a.join(b, Seq("tok1"))
      .filter(col("name_a") < col("name_b"))
      .select(col("name_a"), col("name_b"),
        levenshtein(col("name_a"), col("name_b")).as("dist"),
        col("n_a"), col("n_b"))
      .filter(col("dist") <= FuzzyMaxDist)
      .orderBy(col("dist"), col("name_a"), col("name_b"))
  }

  /** q73: bigram-LM perplexity scoring — the statistical quality filter
    * q64's model exists to power: each document scored by its average
    * negative log-likelihood (and perplexity) under the corpus bigram
    * model with add-one smoothing, p(w₂¦w₁) = (c(w₁,w₂)+1)/(c(w₁,·)+V).
    * High-perplexity docs are the ungrammatical/boilerplate outliers a
    * training pipeline drops.
    *
    * Float discipline (the subtle part): every ln() runs on an identical
    * BIGINT-ratio double in both engines, and the per-doc sum of log-probs
    * folds SEQUENTIALLY in position order — Spark sorts the collected
    * (pos, logp) array and folds from 0.0, DuckDB folds the
    * position-ordered array_agg via list_reduce with a 0.0 seed — so the
    * one order-sensitive float reduction is order-pinned on both sides,
    * then ROUND-4. Scale: bigram stream is the q64 shape; the model
    * tables are vocab-sized aggregates; the per-doc fold sorts each doc's
    * OWN array. */
  def q73(spark: SparkSession, sfDir: String): DataFrame =
    perDocLm(spark, sfDir).orderBy(col("doc_id"))

  /** q73 core without the output ORDER BY — shared with q108, whose
    * bucketing is order-free. */
  private[graft] def perDocLm(spark: SparkSession, sfDir: String): DataFrame = {
    val bi = bigramPairs(spark, sfDir)
      // feeds the model counts AND the scoring join — the counts join
      // back onto this same frame (q104 shape; r9 pinning sweep)
      .localCheckpoint(true)
    val counts = bi.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c"))
    val heads = counts.groupBy(col("w1")).agg(sum(col("c")).as("n_head"))
    val vocabSize = docs(spark, sfDir)
      .select(explode(split(col("text"), " ")).as("token"))
      .agg(countDistinct(col("token")).as("v"))
    // each log-prob is ROUND-6'd BEFORE the fold: the per-row ln agrees
    // across engines on its identical ratio operand (up to the usual
    // boundary coincidence), and pre-rounding stops dozens of independent
    // 1-ulp libm wobbles from ACCUMULATING through the sum into the final
    // ROUND-4 — the fold then adds bit-identical values on both sides
    val logp = round(log((col("c") + lit(1L)).cast("double") /
      (col("n_head") + col("v")).cast("double")), 6)
    bi.join(counts, Seq("w1", "w2"))
      .join(heads, Seq("w1"))
      .crossJoin(broadcast(vocabSize))
      .select(col("doc_id"), col("pos"), logp.as("lp"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        aggregate(
          transform(array_sort(collect_list(struct(col("pos"), col("lp")))),
            s => s.getField("lp")),
          lit(0.0), (acc, v) => acc + v).as("sum_lp"))
      .select(col("doc_id"), col("n_bigrams"),
        round(-col("sum_lp") / col("n_bigrams").cast("double"), 4).as("avg_neg_logp"),
        round(exp(-col("sum_lp") / col("n_bigrams").cast("double")), 4).as("perplexity"))
  }

  /** A FROZEN add-one bigram LM — the deployable form of q73's model:
    * vocab²-bounded count tables (checkpointed — they are read per
    * scoring batch) plus the scalar vocab size. At 100 TB the counts
    * table is the stream-static join side (s11's posture), never the
    * corpus. */
  final case class LmModel(counts: DataFrame, heads: DataFrame, v: Long)

  /** Train [[LmModel]] on a (doc_id, text, …) corpus frame. */
  private[graft] def lmModelOf(documents: DataFrame): LmModel = {
    val bi = bigramsOf(documents).select(col("w1"), col("w2"))
    val counts = bi.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c"))
      .localCheckpoint(true)
    val heads = counts.groupBy(col("w1")).agg(sum(col("c")).as("n_head"))
      .localCheckpoint(true)
    val v = documents.select(explode(split(col("text"), " ")).as("token"))
      .agg(countDistinct(col("token"))).first().getLong(0)
    LmModel(counts, heads, v)
  }

  /** Score arbitrary documents against a FROZEN model — q73's per-row
    * ROUND-6 + ordered-fold discipline, generalized to out-of-corpus
    * text: an unseen bigram takes c = 0 and an unseen head n_head = 0,
    * so the add-one estimate degrades to 1/(0+V) instead of being
    * undefined. On the model's own training corpus every join hits and
    * this is EXACTLY perDocLm (LlmOpsSpec pins row equality), which is
    * what makes stream-vs-batch score parity (s22) by construction. */
  private[graft] def scoreWithModel(documents: DataFrame, m: LmModel): DataFrame = {
    val logp = round(log((coalesce(col("c"), lit(0L)) + lit(1L)).cast("double") /
      (coalesce(col("n_head"), lit(0L)) + lit(m.v)).cast("double")), 6)
    bigramsOf(documents)
      .join(m.counts, Seq("w1", "w2"), "left")
      .join(m.heads, Seq("w1"), "left")
      .select(col("doc_id"), col("pos"), logp.as("lp"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        aggregate(
          transform(array_sort(collect_list(struct(col("pos"), col("lp")))),
            s => s.getField("lp")),
          lit(0.0), (acc, v) => acc + v).as("sum_lp"))
      .select(col("doc_id"), col("n_bigrams"),
        round(-col("sum_lp") / col("n_bigrams").cast("double"), 4).as("avg_neg_logp"),
        round(exp(-col("sum_lp") / col("n_bigrams").cast("double")), 4).as("perplexity"))
  }

  /** q74: collocation strength floor and output size. */
  val PmiMinCount = 5
  val PmiTopK = 50

  /** q74: PMI collocation mining — pointwise mutual information of
    * adjacent token pairs, pmi = ln(c(w₁,w₂)·N / (c(w₁,·)·c(·,w₂))),
    * for pairs seen ≥ 5 times; top 50 by pmi desc (ties by words) — the
    * multi-word-expression detector next to q64's conditional model and
    * q73's perplexity filter (tokenizers learn merges from exactly this
    * signal). Every ln() runs on an identical BIGINT-ratio double and no
    * aggregation happens after the transcendental, so ROUND-4 is the only
    * float discipline needed.
    *
    * Scale posture: one bigram-stream shuffle for the pair counts; head
    * and tail margins are aggregates OF the counts table (vocab-sized);
    * N is a broadcast single-row aggregate. */
  def q74(spark: SparkSession, sfDir: String): DataFrame = {
    val bi = bigramPairs(spark, sfDir).select(col("w1"), col("w2"))
    // eager pin: heads/tails are aggregates OF counts and join back onto
    // it (q104 shape; r9 pinning sweep)
    val counts = bi.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c"))
      .localCheckpoint(true)
    val heads = counts.groupBy(col("w1")).agg(sum(col("c")).as("n_head"))
    val tails = counts.groupBy(col("w2")).agg(sum(col("c")).as("n_tail"))
    val total = counts.agg(sum(col("c")).as("n_total"))
    // cast-THEN-multiply: a BIGINT product c·N overflows signed-64 at real
    // corpus scale (DuckDB errors, Spark wraps); double×double is the same
    // IEEE value in both engines at any magnitude
    val pmi = log((col("c").cast("double") * col("n_total").cast("double")) /
      (col("n_head").cast("double") * col("n_tail").cast("double")))
    counts.filter(col("c") >= PmiMinCount)
      .join(heads, Seq("w1"))
      .join(tails, Seq("w2"))
      .crossJoin(broadcast(total))
      .select(col("w1"), col("w2"), col("c"), round(pmi, 4).as("pmi"))
      .orderBy(col("pmi").desc, col("w1"), col("w2"))
      .limit(PmiTopK)
  }

  /** q78: a document "drops" when more than this fraction of its bigram
    * occurrences belong to repeated bigrams (corpus p90 ≈ 0.13 — the
    * filter flags the repetitive tail, not the bulk). The verdict
    * compares the UNROUNDED exact ratio (one IEEE division of identical
    * integers — deterministic), the displayed fracs go through
    * Dsl.ratio4. */
  val RepetitionMaxDupFrac = 0.1

  /** q78 core on a plain documents frame — unit-testable on planted
    * repetitive/diverse docs (the corpus verdict split is
    * distribution-luck otherwise). */
  private[graft] def repetitionScores(documents: DataFrame): DataFrame =
    bigramsOf(documents)
      .groupBy(col("doc_id"), col("w1"), col("w2")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_bigrams"),
        max(col("c")).as("top_c"),
        sum(when(col("c") >= 2, col("c")).otherwise(0L)).as("dup_c"))
      .select(col("doc_id"), col("n_bigrams"),
        graft.ops.Dsl.ratio4(col("top_c"), col("n_bigrams")).as("top_bigram_frac"),
        graft.ops.Dsl.ratio4(col("dup_c"), col("n_bigrams")).as("dup_bigram_frac"),
        when(col("dup_c").cast("double") / col("n_bigrams").cast("double")
          > RepetitionMaxDupFrac, "drop").otherwise("keep").as("verdict"))
      .orderBy(col("doc_id"))

  /** q78: n-gram repetition scoring — the Gopher-family quality filter
    * (Rae et al. 2021 §A1.1: fraction of characters/tokens in duplicated
    * n-grams): per document, the share of bigram occurrences claimed by
    * the single most frequent bigram (top_bigram_frac) and by ALL bigrams
    * occurring ≥ 2× (dup_bigram_frac), plus the keep/drop verdict at
    * RepetitionMaxDupFrac. Boilerplate, template spam, and degenerate
    * generations score high; natural text scores low.
    *
    * Scale posture: one bigram-stream shuffle to per-(doc, bigram) counts
    * (map-side combined), then a doc-keyed aggregate OF the counts —
    * work proportional to token volume, no windows, no joins. Both
    * displayed fractions are exact-integer ratio4s, so the hash cannot
    * drift on a .00005 boundary. */
  def q78(spark: SparkSession, sfDir: String): DataFrame =
    repetitionScores(docs(spark, sfDir))

  /** q42: order-insensitive document fingerprint — md5 over the sorted
    * distinct token set, the bag-of-words analogue of q29's exact hash.
    * Groups are potential shuffled-copy duplicates. */
  def q42(spark: SparkSession, sfDir: String): DataFrame = {
    val fp = md5(array_join(array_sort(array_distinct(split(col("text"), " "))), " ")
      .cast("binary"))
    docs(spark, sfDir)
      .groupBy(fp.as("fp"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("rep_doc"))
      .orderBy(col("fp"))
  }

  /** q82 verdict threshold: ROUND-4 character entropy below this flags the
    * doc (corpus range at the checked SFs is 3.68–4.23 bits, so 4.0 splits
    * it — on real data this sits near 3.0, where template spam and
    * degenerate repetition live; the operator shape is
    * threshold-independent). */
  val LowEntropyBits = 4.0

  /** q82: character-entropy quality scoring — the compression-ratio proxy
    * of the quality-filter family (a doc whose character distribution
    * compresses well is boilerplate/template/degenerate; Shannon entropy
    * IS its ideal compressed bits-per-char): per doc, total and distinct
    * character counts, the entropy in bits, and the low-entropy verdict
    * next to q40's length/TTR heuristics and q78's n-gram repetition.
    *
    * Determinism (the q73 posture): entropy = log2(n) − (Σ c·log2 c)/n
    * with each per-character term ROUND-6'd before a fold in sorted
    * character order — the transcendental terms are bit-identical on both
    * engines BEFORE any accumulation, so float association cannot drift
    * the ROUND-4 result. Characters enumerate via ONE `split(text, '')`
    * pass per doc (r17): the previous positional form —
    * `substring(text, i, 1)` over an exploded 1..len sequence — re-seeks
    * the UTF-8 char boundary from byte 0 on every call, O(len²) byte
    * scans per document (measured 2.1 s at sf0.1; 0.7 s as the single
    * left-to-right split). The zero-width-regex edge artifacts (Spark
    * keeps a trailing "" at limit −1; DuckDB's empty-pattern split has
    * its own edges) are excluded by the explicit `ch != ''` filter, so
    * the per-(doc, char) count stream is position-identical to the
    * substr enumeration — oracle-verified at sf0.001 and sf0.01.
    *
    * Scale posture: one char-stream shuffle to per-(doc, char) counts
    * (map-side combined — the alphabet is tiny, so partial aggregation
    * collapses the stream ~n/|Σ|×), then a doc-keyed aggregate of ≤ |Σ|
    * rows per doc. Work is linear in corpus characters, no joins, no
    * windows. */
  def q82(spark: SparkSession, sfDir: String): DataFrame = {
    val counts = docs(spark, sfDir)
      .filter(length(col("text")) > 0) // empty docs contribute no rows on either engine
      .select(col("doc_id"), explode(split(col("text"), "")).as("ch"))
      .filter(col("ch") =!= "")
      .groupBy(col("doc_id"), col("ch"))
      .agg(count(lit(1)).as("c"))
    val entropy = round(
      log2(col("n_chars")) - col("sum_t") / col("n_chars").cast("double"), 4)
    counts
      .groupBy(col("doc_id"))
      .agg(
        sum(col("c")).as("n_chars"),
        count(lit(1)).as("n_distinct_chars"),
        aggregate(
          transform(
            array_sort(collect_list(struct(col("ch"),
              round(col("c").cast("double") * log2(col("c")), 6).as("t")))),
            s => s.getField("t")),
          lit(0.0), (acc, v) => acc + v).as("sum_t"))
      .select(col("doc_id"), col("n_chars"), col("n_distinct_chars"),
        entropy.as("entropy_bits"),
        (entropy < lit(LowEntropyBits)).as("low_entropy"))
      .orderBy(col("doc_id"))
  }

  /** q134: per-source token-concentration audit — the inequality measures
    * a corpus curator reads next to q32's counts: Herfindahl–Hirschman
    * index Σ(c/N)² (1/HHI is the "effective vocabulary size"), the top
    * token's share, and the distinct count. A source whose HHI spikes is
    * template/boilerplate output (one token dominating), invisible to
    * per-doc quality scores because every individual doc looks normal.
    *
    * Exactness: HHI = Σc² / N² and top share = max(c)/N — integer
    * numerators and ONE ratio4 each (half-up from exact operands); the
    * top token is the argmax with a lexicographic min tiebreak via the
    * (−c, token) struct-min, both engines resolving the tie identically.
    * Overflow: Σc²·20000 < 2⁵³ holds through ~2·10⁴ tokens-per-type
    * billions — beyond that the ratio moves to DECIMAL (Dsl.ratio4
    * scaladoc bound).
    *
    * Scale posture: one token-stream shuffle to (source, token) counts
    * (map-side combined, vocab-bounded output), then a vocab-cardinality
    * aggregate per source. No joins, no windows — linear in corpus
    * tokens with constant-sized reducers. */
  def q134(spark: SparkSession, sfDir: String): DataFrame =
    tokenConcentrationOf(docs(spark, sfDir))

  /** q134 core on any (source, text) frame (planted-data seam). */
  def tokenConcentrationOf(docsDf: DataFrame): DataFrame = {
    import graft.ops.Dsl.ratio4
    docsDf
      .select(col("source"), explode(split(col("text"), " ")).as("token"))
      .groupBy(col("source"), col("token"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("source"))
      .agg(sum(col("c")).as("n_tokens"),
        count(lit(1)).as("n_distinct"),
        min(struct((-col("c")).as("nc"), col("token"))).as("top"),
        sum(col("c") * col("c")).as("sum_c2"))
      .select(col("source"), col("n_tokens"), col("n_distinct"),
        col("top.token").as("top_token"),
        ratio4(-col("top.nc"), col("n_tokens")).as("top_share"),
        ratio4(col("sum_c2"), col("n_tokens") * col("n_tokens")).as("hhi"))
      .orderBy(col("source"))
  }

  /** q83: cross-source n-gram contamination matrix — the dataset-assembly
    * audit in front of mixing (q80): for every pair of sources, how much
    * shingle (word-trigram) mass they share. Exact-dup overlap (q29's
    * digest) is routinely zero between sources while boilerplate still
    * leaks across them — this measures that leak, and a high-overlap pair
    * is double-counted mass a mixture plan must correct for.
    *
    * Scale posture: distinct (source, shingle-hash) is one shuffle of the
    * shingle stream on fixed-width longs (q36's hashed-shingle posture);
    * the pair join fans out per shared shingle at ≤ S² for S sources — S
    * is fixed and small while the corpus grows, so collision volume is
    * bounded by distinct-shingles × S², never doc-pair quadratic. The
    * per-source set sizes broadcast back onto the 190-row pair frame. */
  def q83(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.ops.Dsl.ratio4
    val bySource = rawShingles(spark, sfDir)
      .join(docs(spark, sfDir).select(col("doc_id"), col("source")), Seq("doc_id"))
      .select(col("source"), xxhash64(col("shingle")).as("hm"))
      .distinct()
      // three consumers: per-source sizes + both sides of the pair join —
      // a literal self-join of this frame (q104 shape; r9 pinning sweep)
      .localCheckpoint(true)
    val sizes = bySource.groupBy(col("source")).agg(count(lit(1)).as("n"))
    val shared = bySource.select(col("source").as("source_a"), col("hm"))
      .join(bySource.select(col("source").as("source_b"), col("hm")), Seq("hm"))
      .filter(col("source_a") < col("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_shared"))
    shared
      .join(broadcast(sizes.select(col("source").as("source_a"), col("n").as("n_a"))), Seq("source_a"))
      .join(broadcast(sizes.select(col("source").as("source_b"), col("n").as("n_b"))), Seq("source_b"))
      .select(col("source_a"), col("source_b"), col("n_a"), col("n_b"), col("n_shared"),
        ratio4(col("n_shared"), col("n_a") + col("n_b") - col("n_shared")).as("jaccard"))
      .orderBy(col("source_a"), col("source_b"))
  }

  /** q88 counter budget / output size. */
  val HhCounters = 256
  val HhK = 20

  /** q88: heavy hitters via the native Misra-Gries sketch
    * (graft.functions.FreqSketch) — the SKETCH form of q30's exact top
    * tokens, exactly as q53 is of q10 and q68 of q45: m counters per
    * partition partial, mergeable summaries (pointwise sum +
    * (m+1)-th-largest subtraction), est within N/(m+1) of truth and
    * every item above that threshold guaranteed present. At 100 TB the
    * exact form shuffles the full token stream; this ships m counters
    * per partition up a narrow merge tree — constant state.
    *
    * THIS corpus's alphabet (31 tokens) fits the 256-counter budget, so
    * no eviction ever fires, the sketch is EXACT regardless of
    * partitioning, and the query carries a real DuckDB oracle (the q30
    * counts under sketch column names). The sub-budget regime — where
    * values go engine-specific — is law-pinned instead: ExpressionSpec
    * drives small-m streams through exactness/bound/presence checks. */
  def q88(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.ops.Dsl.freqSketch
    tokens(spark, sfDir)
      .agg(freqSketch(col("token"), HhCounters).as("sk"))
      .select(explode(col("sk")).as("e"))
      .select(col("e.token").as("token"), col("e.est").as("est"))
      .orderBy(col("est").desc, col("token"))
      .limit(HhK)
  }

  /** q89 rank cutoff: the fit runs over the top-N tokens by frequency —
    * a CONSTANT, so the ranking window after the top-N limit runs on a
    * bounded frame no matter how large the vocabulary grows. */
  val ZipfTopN = 100

  /** q89: Zipf-law fit — the corpus-naturalness audit: least-squares
    * slope/intercept of ln(freq) against ln(rank) over the top-N tokens.
    * Natural language sits near slope −1; template spam, generated
    * boilerplate, and over-deduplicated corpora bend away from it. The
    * corpus-level sibling of the per-doc filters (q40/q78/q82).
    *
    * Scale posture: exact counts are one token-stream shuffle (map-side
    * combined); the global top-N is orderBy+limit (TakeOrdered — per-
    * partition heaps + driver merge, no full sort) and every later step
    * (rank window, fold, fit) runs on the CONSTANT-N frame.
    *
    * Determinism (the q73 posture, taken to a closed form): x = ROUND-6
    * ln(rank) and y = ROUND-6 ln(freq) are bit-identical per row on both
    * engines; the four regression sums (Σx, Σy, Σxy, Σx²) each fold in
    * rank order over the collected array; the slope/intercept arithmetic
    * is then identical-operand float math feeding ROUND-4. */
  def q89(spark: SparkSession, sfDir: String): DataFrame = {
    val top = tokens(spark, sfDir)
      .groupBy(col("token")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token")).limit(ZipfTopN)
      .withColumn("rk", row_number().over(
        Window.orderBy(col("n").desc, col("token"))))
      .select(col("rk"),
        round(log(col("rk").cast("double")), 6).as("x"),
        round(log(col("n").cast("double")), 6).as("y"))
    def fold(field: String, value: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      aggregate(
        transform(array_sort(collect_list(struct(col("rk"), value.as(field)))),
          s => s.getField(field)),
        lit(0.0), (acc, v) => acc + v)
    top
      .agg(
        count(lit(1)).as("n_ranks"),
        fold("x", col("x")).as("sx"),
        fold("y", col("y")).as("sy"),
        fold("xy", round(col("x") * col("y"), 6)).as("sxy"),
        fold("xx", round(col("x") * col("x"), 6)).as("sxx"))
      .select({
        // degenerate guard (r9 sweep): an empty corpus, or one whose
        // top-N collapses to a single rank (sxx == sx² at n = 1), zeroes
        // the regression denominator — NULL fit, mirrored in the oracle
        val den = col("n_ranks") * col("sxx") - col("sx") * col("sx")
        val slope = (col("n_ranks") * col("sxy") - col("sx") * col("sy")) / den
        Seq(col("n_ranks"),
          when(col("n_ranks") > 0 && den =!= 0.0, round(slope, 4))
            .otherwise(lit(null).cast("double")).as("zipf_slope"),
          when(col("n_ranks") > 0 && den =!= 0.0,
            round((col("sy") - slope * col("sx")) / col("n_ranks"), 4))
            .otherwise(lit(null).cast("double")).as("zipf_intercept"))
      }: _*)
  }

  /** q84 containment threshold as an exact rational (4/5 = 0.8): every
    * threshold compare and prefix length is integer arithmetic — ceil of
    * ns·0.8 computed on DOUBLES is wrong (5 × the double 0.8 is
    * 4.000000000000000222, which ceils to 5, not 4), so unlike q36's
    * binary-exact t = 0.5 this one must never touch a float. */
  val ContainmentNum = 4
  val ContainmentDen = 5

  /** q84 hot-shingle document-frequency cap: shingles held by more than
    * this many documents are excluded from CANDIDATE GENERATION (both the
    * probe prefix and the index) — they are corpus boilerplate and carry
    * no discrimination signal, and indexing them is the operator's one
    * scale hazard (a shingle with df = 10⁷ fans every probe that touches
    * it out 10⁷ rows). The cap bounds per-shingle join fan-out at
    * ContainmentMaxDf while keeping the pigeonhole argument exact — see
    * [[containmentPairs]]. 256 is far above any df the synthetic corpora
    * produce (max 25 at sf0.1), so the cap is vacuous at oracle scale and
    * active only against real boilerplate; a production deployment would
    * tune it (e.g. max(256, 1e-5·ndocs)). */
  val ContainmentMaxDf = 256L

  /** q84: containment near-duplicates — the ASYMMETRIC member of the dedup
    * family: C(A→B) = |A∩B| / |A| with A the smaller shingle set. A quote,
    * excerpt, or wire story embedded in a longer document scores high
    * containment while its Jaccard dilutes toward |A|/|B| — exactly the
    * pairs q36's symmetric threshold misses. Output: (doc_small,
    * doc_large) pairs at containment ≥ 4/5 that share at least one
    * non-boilerplate (df ≤ [[ContainmentMaxDf]]) shingle, with both set
    * sizes, the full intersection, and both metrics (ratio4). */
  def q84(spark: SparkSession, sfDir: String): DataFrame =
    containmentPairs(docs(spark, sfDir), ContainmentMaxDf)

  /** q84 core, parameterized on the df cap so PropertySpec can compare
    * capped vs uncapped (maxDf = Long.MaxValue) output on planted
    * boilerplate.
    *
    * Candidates are PPJoin-asymmetric: the CONTAINMENT prefix of each doc
    * (ns − ⌈t·ns⌉ + 1 rarest IN-BAND shingles, integer ceil; in-band =
    * 2 ≤ df ≤ maxDf) probes the full in-band shingle index —
    * prefix-on-both-sides would lose completeness (the matching shingle
    * can sit anywhere in the larger doc), and the pigeonhole argument
    * needs the probe side to be the smaller set, so wrong-orientation
    * candidates are dropped after the size join (their mirror candidate
    * always exists).
    *
    * Why the cap keeps the pigeonhole exact: let A' = A's in-band
    * shingles and h = |A \ A'| the out-of-band count. If
    * |A∩B| ≥ ⌈t·ns⌉ then |A'∩B| ≥ ⌈t·ns⌉ − h (each dropped shingle
    * removes at most one intersection member), while
    * |A' \ (A'∩B)| ≤ (ns−h) − (⌈t·ns⌉−h) = ns − ⌈t·ns⌉ — so ANY
    * kc = ns − ⌈t·ns⌉ + 1 elements of A' (the same kc as uncapped; the
    * out-of-band shingles subtract equally from the set size and the
    * intersection bound) must hit A'∩B whenever it is non-empty. Hence
    * the engine finds EXACTLY the qualifying pairs sharing ≥ 1 in-band
    * shingle — the predicate the oracle mirrors as n_lowdf ≥ 1 — and the
    * filter-then-slice order below (in-band filter BEFORE the kc slice)
    * is what makes the prefix "kc rarest of A'" rather than "in-band
    * survivors of A's first kc", which would not be complete.
    *
    * Index volume is now ≤ maxDf rows per distinct shingle (the df = 10⁷
    * boilerplate row set drops out entirely), so candidate join fan-out
    * per probe shingle is bounded by the constant cap. Verification
    * reuses the cached per-doc arrays: one native sorted merge count over
    * the FULL sets per surviving candidate (n_inter counts boilerplate
    * too — only candidate generation is capped), and the threshold filter
    * is the exact integer 5·|A∩B| ≥ 4·|A|. */
  private[graft] def containmentPairs(documents: DataFrame, maxDf: Long): DataFrame = {
    import graft.ops.Dsl.ratio4
    val (perDoc, cand) = containmentCandidates(documents, maxDf)
    // hm-sorted set projection + native merge count, as in q36 (r18): the
    // containment shape is the length-skewed one (small doc in large doc),
    // where the merge's galloping pointer replaces array_intersect's
    // O(|large|) hash-set build per candidate.
    val sets = perDoc.select(col("doc_id"),
      array_sort(transform(col("arr"), e => e.getField("hm"))).as("set"), col("ns"))
    cand
      .join(sets.select(col("doc_id").as("doc_s"), col("set").as("set_s"), col("ns").as("n_s")), Seq("doc_s"))
      .join(sets.select(col("doc_id").as("doc_l"), col("set").as("set_l"), col("ns").as("n_l")), Seq("doc_l"))
      .filter(col("n_s") < col("n_l") ||
        (col("n_s") === col("n_l") && col("doc_s") < col("doc_l")))
      .withColumn("n_inter", graft.ops.Dsl.sortedIntersectCount(col("set_s"), col("set_l")))
      .filter(col("n_inter") * ContainmentDen >= col("n_s") * ContainmentNum)
      .select(col("doc_s"), col("doc_l"), col("n_s"), col("n_l"), col("n_inter"),
        ratio4(col("n_inter"), col("n_s")).as("containment"),
        ratio4(col("n_inter"), col("n_s") + col("n_l") - col("n_inter")).as("jaccard"))
      .orderBy(col("doc_s"), col("doc_l"))
  }

  /** q84's candidate stage, exposed separately so the planted-boilerplate
    * spec can pin JOIN VOLUME (not just output): with the cap active, a
    * df = 50 hot shingle contributes zero index rows and zero candidates,
    * where uncapped it contributes 50·49 ordered candidate pairs. Returns
    * (perDoc arrays, distinct (doc_s, doc_l) candidates); both sides of
    * the candidate join explode only IN-BAND (2 ≤ df ≤ maxDf) shingles,
    * and the probe prefix is the kc rarest in-band shingles
    * (filter-then-slice — see [[containmentPairs]] for why that order is
    * what keeps the pigeonhole complete). */
  private[graft] def containmentCandidates(
      documents: DataFrame, maxDf: Long): (DataFrame, DataFrame) = {
    // eager pins (both): dfShared joins back onto sh, and probe/index
    // below are BOTH derived from perDoc and joined against each other
    // (q104 shape; r9 pinning sweep). parts=8: both frames scale with
    // the corpus.
    val sh = graft.ops.Dsl.pin(
      shinglesOf(documents)
        .select(col("doc_id"), xxhash64(col("shingle")).as("hm"))
        .distinct(),
      parts = 8)
    val dfShared = sh.groupBy(col("hm")).agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2)
    val perDoc = graft.ops.Dsl.pin(docShingleArrays(sh, dfShared), parts = 8)
    // integer ceil(t·ns) = (num·ns + den − 1) div den
    val kc = (col("ns") - expr(
      s"(ns * $ContainmentNum + $ContainmentDen - 1) div $ContainmentDen") + 1).cast("int")
    def inBand(e: org.apache.spark.sql.Column) =
      e.getField("df") >= 2 && e.getField("df") <= maxDf
    val probe = perDoc
      .select(col("doc_id"), col("ns"),
        explode(slice(filter(col("arr"), e => inBand(e)), lit(1), kc)).as("e"))
      .select(col("doc_id").as("doc_s"), col("e").getField("hm").as("hm"))
    val index = perDoc
      .select(col("doc_id").as("doc_l"),
        explode(filter(col("arr"), e => inBand(e))).as("e"))
      .select(col("doc_l"), col("e").getField("hm").as("hm"))
    val cand = probe.join(index, Seq("hm"))
      .filter(col("doc_s") =!= col("doc_l"))
      .select(col("doc_s"), col("doc_l"))
      .distinct()
    (perDoc, cand)
  }

  /** q91 posting-list sample width: each term's output row carries its df,
    * cf, and the FIRST [[PostingSample]] postings by doc_id — a constant,
    * so no output row grows with the corpus (the full posting lists of a
    * production index are written term-range-partitioned to storage, not
    * carried in a result row; the sample is the index-build audit view). */
  val PostingSample = 5

  /** q91: inverted-index construction — the retrieval-side table every
    * search/RAG stack builds from a training corpus: per term, its document
    * frequency, corpus frequency, and a bounded posting sample
    * "doc:tf,doc:tf,…" over the first [[PostingSample]] docs by doc_id.
    * All-integer output — no float discipline needed.
    *
    * Scale posture: term-level tf is ONE shuffle of the token stream on
    * (token, doc_id) with map-side partial counts; everything after is a
    * SINGLE pass over the tf table — a per-token row_number window (one
    * exchange on token) feeds one grouped aggregate that computes df/cf
    * over every row while the posting sample collects only the rows with
    * rn ≤ [[PostingSample]] (`when` yields null past the cap and
    * collect_list skips nulls, so the aggregation buffer is bounded by a
    * constant — a stopword with df = 10⁷ never materializes a
    * 10⁷-element array). The groupBy rides the window's hash partitioning
    * on token, so no further exchange; no corpus-scale intermediate is
    * cached and there is no stats⋈postings join (both earlier drafts —
    * the r6 form cached the full tf table, the largest cached
    * intermediate in the query family at corpus scale).
    * Reference tie: the term-lookup side of the reference's status reads,
    * generalized to corpus retrieval (`main.go:214`). */
  def q91(spark: SparkSession, sfDir: String): DataFrame =
    indexOf(termFrequencies(docs(spark, sfDir)))

  /** The (token, doc_id, tf) term-frequency table of an arbitrary
    * (doc_id, text, …) frame — shared with the streaming incremental
    * index (s15), whose micro-batches are not table loads; batch and
    * stream tokenize and count identically BY CONSTRUCTION because this
    * is the one definition. */
  private[graft] def termFrequencies(documents: DataFrame): DataFrame =
    documents
      .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
      .groupBy(col("token"), col("doc_id")).agg(count(lit(1)).as("tf"))

  /** q91 aggregation on an arbitrary (token, doc_id, tf) frame — the
    * read-side view of the streaming incremental index store runs this
    * same code over its materialized tf rows. */
  private[graft] def indexOf(tf: DataFrame): DataFrame = {
    val wp = Window.partitionBy(col("token")).orderBy(col("doc_id"))
    tf.withColumn("rn", row_number().over(wp))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("df"), sum(col("tf")).as("cf"),
        concat_ws(",",
          transform(array_sort(collect_list(
            when(col("rn") <= PostingSample, struct(col("doc_id"), col("tf"))))),
            e => concat_ws(":", e.getField("doc_id").cast("string"),
              e.getField("tf").cast("string")))).as("postings"))
      .select(col("token"), col("df"), col("cf"), col("postings"))
      .orderBy(col("token"))
  }

  /** q92 retrieval constants: the fixed query term set (all present in the
    * synthetic vocabulary), the standard Robertson k1/b, and the result
    * cutoff. */
  val Bm25Query: Seq[String] = Seq("merge", "spark", "window")
  val Bm25K1 = 1.2
  val Bm25B = 0.75
  val Bm25TopK = 15

  /** q92: BM25 retrieval — Okapi BM25 scoring of the corpus against a
    * fixed query term set, the ranking function actually used by the
    * lexical half of every retrieval stack (q58's tf-idf is the weighting
    * view; this is the query-time scorer with length normalization).
    * Output: top [[Bm25TopK]] docs by score (ties by doc_id) with the
    * number of query terms hit.
    *
    * Scale posture: the token stream is FILTERED to the query terms before
    * any shuffle (predicate on the exploded stream — candidate volume is
    * the terms' posting lists, not the corpus); df is an aggregate of the
    * tiny filtered tf table and broadcasts back; doc length joins from a
    * narrow (doc_id, dl) projection; N and Σdl are a broadcast single-row
    * aggregate. Final ranking is orderBy+limit = TakeOrdered (per-partition
    * heaps, no full sort).
    *
    * Determinism (q73 posture): each per-term score is computed on
    * identical-operand float math — idf's ln on a BIGINT-derived ratio,
    * the length norm on (tf, dl, avgdl = Σdl/N exact-integer ratio) — and
    * ROUND-6'd BEFORE the per-doc fold, which adds in token order; the
    * final sum is ROUND-4. Association is pinned left-to-right and
    * mirrored token-for-token in the oracle SQL. */
  def q92(spark: SparkSession, sfDir: String): DataFrame = {
    val dl = docs(spark, sfDir)
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("dl"))
    val tf = tokens(spark, sfDir)
      .filter(col("token").isin(Bm25Query: _*))
      .groupBy(col("doc_id"), col("token")).agg(count(lit(1)).as("tf"))
    bm25Rank(tf, dl)
  }

  /** q92's scoring on arbitrary (doc_id, token, tf) / (doc_id, dl)
    * frames — the s18 streaming search runs this SAME kernel over the
    * incremental posting store (whose Σtf per doc IS the whitespace
    * token count, so both sides feed it bit-identical inputs by
    * construction). `tf` must already be filtered to the query terms. */
  private[graft] def bm25Rank(tf: DataFrame, dl: DataFrame): DataFrame = {
    val corpus = dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("total_dl"))
    val dfreq = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
    val avgdl = col("total_dl").cast("double") / col("n_docs").cast("double")
    val idf = log(lit(1.0) +
      (col("n_docs").cast("double") - col("df").cast("double") + lit(0.5)) /
        (col("df").cast("double") + lit(0.5)))
    val tfd = col("tf").cast("double")
    val num = tfd * lit(Bm25K1 + 1.0)
    val den = tfd + lit(Bm25K1) *
      (lit(1.0) - lit(Bm25B) + lit(Bm25B) * col("dl").cast("double") / avgdl)
    val terms = tf.join(broadcast(dfreq), Seq("token"))
      .join(dl, Seq("doc_id"))
      .crossJoin(broadcast(corpus))
      .select(col("doc_id"), col("token"), round(idf * (num / den), 6).as("s"))
    terms.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_hit"),
        aggregate(transform(array_sort(collect_list(struct(col("token"), col("s")))),
          e => e.getField("s")), lit(0.0), (acc, v) => acc + v).as("sum_s"))
      .select(col("doc_id"), col("n_hit"), round(col("sum_s"), 4).as("bm25"))
      .orderBy(col("bm25").desc, col("doc_id"))
      .limit(Bm25TopK)
  }

  /** q93 TextRank constants: standard damping, a fixed iteration count
    * (the oracle unrolls exactly this many rounds), and the keyword
    * cutoff.
    *
    * [[TextRankIters]] is a FIXED-ROUND TRUNCATION, not run-to-
    * convergence: the oracle must unroll the exact same rounds, so the
    * round count is a constant shared by both engines. 10 rounds (up from
    * the r6 draft's 3, which was closer to weighted-degree ranking than
    * to TextRank) is where the top-[[TextRankTopK]] SET is stable on the
    * synthetic corpus; the true tolerance-driven fixpoint — what a
    * production tagger runs — is [[textRankConverged]] below, tied to
    * this query by a PropertySpec law instead of an oracle. */
  val TextRankDamping = 0.85
  val TextRankIters = 10
  val TextRankTopK = 20

  /** q93: TextRank keyword extraction — weighted PageRank over the token
    * co-occurrence graph (undirected edges between ADJACENT tokens,
    * weight = adjacency count; Mihalcea & Tarau, EMNLP'04): the classic
    * unsupervised keyphrase signal a data pipeline runs to tag and route
    * corpus slices. r₀ = 1; rᵢ₊₁(v) = (1−d) + d·Σᵤ w(u,v)/W(u)·rᵢ(u) for
    * [[TextRankIters]] rounds; output the top [[TextRankTopK]] tokens by
    * final score (ROUND-4, ties by token).
    *
    * This is the WEIGHTED-propagation member of the iterative family next
    * to q57's min-label CC: same join-per-round shape, but each round is a
    * weighted gather instead of a min, so it exercises float-deterministic
    * iteration (per-contribution ROUND-6, fold in neighbor order,
    * per-round ROUND-6 re-pin — both engines propagate bit-identical
    * scores into the next round).
    *
    * Scale posture: the edge list aggregates the bigram stream once
    * (vocab²-bounded, far smaller in practice); out-weights aggregate the
    * edge list. Each iteration is ONE equi-join of edges against the
    * (node, score) frame — |V|-sized, the small side at corpus scale —
    * plus one grouped fold, with lineage truncated per round by eager
    * localCheckpoint exactly like the CC fixpoint (no lineage growth,
    * fixed round count, no driver-side graph). */
  def q93(spark: SparkSession, sfDir: String): DataFrame = {
    // reused every round; eager pin so every round's join reads one
    // immutable evaluation instead of lazily filling a cache from inside
    // round 1's checkpoint job (r9 pinning sweep)
    val e2 = textRankEdges(spark, sfDir).localCheckpoint(true)
    var r = textRankInit(e2)
    for (_ <- 1 to TextRankIters) r = textRankStep(e2, r)
    textRankTopKOf(r)
  }

  /** q93 graph: the weighted undirected adjacency list with each edge's
    * source out-weight joined on (so a round is one join, not two). */
  private def textRankEdges(spark: SparkSession, sfDir: String): DataFrame = {
    val und = bigramPairs(spark, sfDir)
      .filter(col("w1") =!= col("w2"))
      .select(least(col("w1"), col("w2")).as("a"), greatest(col("w1"), col("w2")).as("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("w"))
    val edges = und.select(col("a").as("src"), col("b").as("dst"), col("w"))
      .union(und.select(col("b").as("src"), col("a").as("dst"), col("w")))
    val outW = edges.groupBy(col("src")).agg(sum(col("w")).as("wout"))
    edges.join(outW, Seq("src"))
  }

  private def textRankInit(e2: DataFrame): DataFrame =
    e2.select(col("src").as("v")).distinct().withColumn("r", lit(1.0))

  /** One TextRank round — the float-determinism disciplines (per-
    * contribution ROUND-6, neighbor-ordered fold, per-round ROUND-6
    * re-pin) live HERE so the fixed-round query and the convergence
    * variant propagate bit-identical states by construction. */
  private def textRankStep(e2: DataFrame, r: DataFrame): DataFrame = {
    val contrib = e2.join(r, e2("src") === r("v"))
      .select(col("dst"), col("src"),
        round(col("r") * col("w").cast("double") / col("wout").cast("double"), 6).as("c"))
    contrib.groupBy(col("dst"))
      .agg(aggregate(transform(array_sort(collect_list(struct(col("src"), col("c")))),
        e => e.getField("c")), lit(0.0), (acc, v) => acc + v).as("sum_c"))
      .select(col("dst").as("v"),
        round(lit(1.0 - TextRankDamping) + lit(TextRankDamping) * col("sum_c"), 6).as("r"))
      // LAZY checkpoint (r18): the rank state is single-consumer — q93's
      // next round joins it exactly once (e2, the two-consumer frame,
      // keeps its EAGER pin above), and textRankConverged's delta probe
      // materializes it before the next round reads it — so q93's ten
      // per-round materialization jobs collapse into the query's one
      // action while the logical plan still truncates per round
      // (LogicalRDD). Same single-consumer-chain argument as the BPE
      // learner; the r9 under-match hazard needs a first materialization
      // racing on two branches of one job.
      .localCheckpoint(false)
  }

  private def textRankTopKOf(r: DataFrame): DataFrame =
    r.select(col("v").as("token"), round(col("r"), 4).as("score"))
      .orderBy(col("score").desc, col("token"))
      .limit(TextRankTopK)

  /** Convergence cap for [[textRankConverged]] — a fixpoint loop without
    * a round bound is an outage waiting for a pathological graph. */
  val TextRankMaxRounds = 50

  /** q93's production form: TextRank iterated to a TOLERANCE instead of a
    * fixed round count — the q57-fixpoint pattern (one scalar probe per
    * round, hard round cap, per-round localCheckpoint lineage
    * truncation). Stops when max |rᵢ₊₁(v) − rᵢ(v)| ≤ tol; because each
    * round's state is ROUND-6-quantized, exact convergence (delta = 0) is
    * reachable and makes further rounds no-ops — which is what ties this
    * to q93: with tol = 0 and the cap at [[TextRankIters]], the final
    * state IS q93's state (PropertySpec law), so the oracle-checked
    * fixed-round query certifies this variant's iteration machinery.
    * Kept out of the oracle set: the round count where the tolerance
    * fires is corpus geometry, not portable SQL. */
  private[graft] def textRankConverged(spark: SparkSession, sfDir: String,
      tol: Double = 1e-4, maxRounds: Int = TextRankMaxRounds): DataFrame =
    textRankConvergedWithRounds(spark, sfDir, tol, maxRounds)._1

  /** [[textRankConverged]] plus the number of rounds actually run, so the
    * PropertySpec law can assert the tolerance FIRES before the cap (a
    * loop that always exhausts its cap is a fixed-round query with extra
    * steps, not a convergence loop). */
  private[graft] def textRankConvergedWithRounds(spark: SparkSession, sfDir: String,
      tol: Double, maxRounds: Int): (DataFrame, Int) = {
    val e2 = textRankEdges(spark, sfDir).localCheckpoint(true) // as q93
    var r = textRankInit(e2)
    var round = 0
    var delta = Double.MaxValue
    while (round < maxRounds && delta > tol) {
      val rNext = textRankStep(e2, r)
      // scalar probe: one max-abs-diff aggregate per round (q57 posture —
      // the only driver-side value is one double)
      delta = rNext.as("n").join(r.as("p"), col("n.v") === col("p.v"))
        .agg(max(abs(col("n.r") - col("p.r")))).head().getDouble(0)
      r = rNext
      round += 1
    }
    (textRankTopKOf(r), round)
  }

  /** q98: trigram-novelty / corpus-saturation curve — in doc_id
    * (= ingest) order, how many NEW distinct word-trigrams each document
    * contributes and how much of the corpus's final distinct-trigram
    * universe is covered so far. This is the "is more data still buying
    * diversity" audit a dataset-assembly pass runs before mixing (q80)
    * and after dedup (q66): a corpus whose curve saturates early is
    * repeating itself — more ingest adds tokens, not information — and
    * per-doc novelty near zero is the document-level symptom q78/q82
    * score by other means. Output per document: distinct trigrams `ns`,
    * first-occurrence count `n_new`, running `cum_new`, ratio4 per-doc
    * novelty (NULL for docs with < 3 tokens, which have no trigrams) and
    * ratio4 cumulative coverage of the final universe.
    *
    * A trigram's "first seer" is the minimum doc_id holding it —
    * order-free (MIN is the same under any execution order), which is
    * what makes an ingest-order curve computable without replaying
    * ingest. Engine-side trigrams are xxhash64'd (the q36 posture:
    * fixed-width longs through every shuffle; the oracle recomputes from
    * raw strings).
    *
    * Scale posture: one distinct-shingle shuffle on (doc_id, hm); ns
    * aggregates that stream per doc; the first-seer table aggregates it
    * per shingle (uniform 64-bit key, map-side partials); n_new then
    * aggregates the SHINGLE TABLE by its fmin column — never joins back
    * to the stream. The curve itself runs on the doc-cardinality frame:
    * the two-phase distributed prefix sum ([[graft.ops.Dsl.runningSum]]),
    * so no row ever crosses a single-task global window; the universe
    * size broadcasts as a single-row aggregate (q74 pattern). */
  def q98(spark: SparkSession, sfDir: String): DataFrame =
    noveltyCurveOf(docs(spark, sfDir))

  /** q98 core on an arbitrary (doc_id, text) frame — exposed so the
    * planted-corpus law (LlmOpsSpec) can pin first-seer semantics: a doc
    * repeating only earlier-doc trigrams contributes zero novelty, the
    * lowest doc_id is all-new, and the curve ends at exactly 1.0. */
  private[graft] def noveltyCurveOf(documents: DataFrame): DataFrame = {
    import graft.ops.Dsl.{ratio4, runningSum}
    val sh = shinglesOf(documents)
      .select(col("doc_id"), xxhash64(col("shingle")).as("hm"))
      .distinct()
    val perDoc = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("ns"))
    val firstSeen = sh.groupBy(col("hm")).agg(min(col("doc_id")).as("fmin"))
    val newPerDoc = firstSeen.groupBy(col("fmin")).agg(count(lit(1)).as("n_new"))
      .select(col("fmin").as("doc_id"), col("n_new"))
    val universe = firstSeen.agg(count(lit(1)).as("n_total"))
    val base = documents.select(col("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .join(newPerDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("ns"), lit(0L)).as("ns"),
        coalesce(col("n_new"), lit(0L)).as("n_new"))
    runningSum(base, "n_new", Seq(col("doc_id")), "cum_new")
      .crossJoin(broadcast(universe))
      .select(col("doc_id"), col("ns"), col("n_new"), col("cum_new"),
        when(col("ns") > 0, ratio4(col("n_new"), col("ns")))
          .otherwise(lit(null).cast("double")).as("novelty4"),
        when(col("n_total") > 0, ratio4(col("cum_new"), col("n_total")))
          .otherwise(lit(null).cast("double")).as("coverage4"))
      .orderBy(col("doc_id"))
  }

  /** q103 histogram bin width (whitespace tokens per bin). */
  val HistBinW = 64L

  /** q103: document-length histogram — the token-count distribution panel
    * every dataset audit opens with (sequence-length planning for packing
    * (q96), truncation-loss estimates, outlier screens): docs bucketed by
    * whitespace token count (q41's kernel) into fixed-width bins of
    * [[HistBinW]], per bin → doc count, token mass, corpus share and
    * cumulative share (exact-integer ratio4).
    *
    * Scale posture: one map-side projection (token count is computed in
    * the scan's codegen stage) + ONE mergeable groupBy(bin); everything
    * after runs on the bin-cardinality frame — bounded by
    * max-doc-len/[[HistBinW]], a constant like q89's top-N frame — so the
    * cumulative window and the single-row total broadcast never see
    * corpus-sized input. */
  def q103(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.ops.Dsl.ratio4
    val agg = docs(spark, sfDir)
      .select(size(split(col("text"), " ")).cast("long").as("nt"))
      .select(expr(s"nt div ${HistBinW}L").as("bin"), col("nt"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n_docs"), sum(col("nt")).as("sum_tokens"))
    val tot = agg.agg(sum(col("n_docs")).as("total_docs"))
    val w = Window.orderBy(col("bin"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    agg.withColumn("cum_docs", sum(col("n_docs")).over(w))
      .crossJoin(broadcast(tot))
      .select(col("bin"),
        (col("bin") * HistBinW).as("lo_tokens"),
        (col("bin") * HistBinW + HistBinW - 1L).as("hi_tokens"),
        col("n_docs"), col("sum_tokens"),
        ratio4(col("n_docs"), col("total_docs")).as("share4"),
        ratio4(col("cum_docs"), col("total_docs")).as("cum_share4"))
      .orderBy(col("bin"))
  }

  /** q105 output size: the top bigrams (by count) whose smoothed
    * probability is reported. */
  val KnTopK = 20

  /** q105: interpolated Kneser-Ney bigram probabilities — the smoothing
    * capstone of the language-model family (q64 raw bigram MLE, q73
    * perplexity, q94 BPE merges): for the [[KnTopK]] most frequent
    * bigrams,
    *
    *   P_kn(w2|w1) = max(c12 − d, 0)/c1 + d·N1+(w1·)/c1 · N1+(·w2)/N_big
    *
    * with discount d = 3/4 (Chen & Goodman'98's fixed-discount form).
    * The continuation probability N1+(·w2)/N_big — "in how many contexts
    * does w2 complete a bigram" — is what distinguishes KN from simple
    * backoff and what makes it the production smoother.
    *
    * d = 3/4 makes everything exact INTEGER arithmetic: over the common
    * denominator 4·c1·N_big the numerator is (4·c12 − 3)·N_big +
    * 3·N1+(w1·)·N1+(·w2), and pkn4 is one [[graft.ops.Dsl.ratio4]] of
    * those BIGINTs (numerator·20000 stays double-exact up to corpus
    * scales of ~10⁹ bigram types; beyond that the quotient moves to
    * DECIMAL — the documented ratio4 bound). No float accumulates
    * anywhere, so the hash compare is exact.
    *
    * Scale posture: ONE corpus-scale shuffle (the bigram count, shared
    * shape with q64); every other frame aggregates the vocab²-bounded
    * COUNTS table (head totals, continuation counts, the single-row
    * N_big); the top-k is a TakeOrdered (no global sort), and the two
    * stat joins run AFTER the limit — [[KnTopK]] rows against
    * vocab-sized tables, broadcast by size. The counts table is
    * localCheckpoint-pinned: four consumers would otherwise re-shuffle
    * the corpus four times (the q99 lesson). */
  def q105(spark: SparkSession, sfDir: String): DataFrame =
    knBigrams(docs(spark, sfDir))

  /** q105 core on an arbitrary (doc_id, text) frame, so LlmOpsSpec can
    * pin hand-computed probabilities on a planted corpus. */
  private[graft] def knBigrams(documents: DataFrame): DataFrame = {
    import graft.ops.Dsl.ratio4
    val c = graft.ops.Dsl.pin(bigramsOf(documents)
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12")))
    val heads = c.groupBy(col("w1"))
      .agg(sum(col("c12")).as("c1"), count(lit(1)).as("n1p_head"))
    val conts = c.groupBy(col("w2")).agg(count(lit(1)).as("n1p_cont"))
    val nbig = c.agg(count(lit(1)).as("n_big"))
    c.orderBy(col("c12").desc, col("w1"), col("w2")).limit(KnTopK)
      .join(heads, Seq("w1"))
      .join(conts, Seq("w2"))
      .crossJoin(broadcast(nbig))
      .select(col("w1"), col("w2"), col("c12"), col("c1"),
        col("n1p_head"), col("n1p_cont"), col("n_big"),
        ratio4(
          (lit(4L) * col("c12") - lit(3L)) * col("n_big") +
            lit(3L) * col("n1p_head") * col("n1p_cont"),
          lit(4L) * col("c1") * col("n_big")).as("pkn4"))
      .orderBy(col("c12").desc, col("w1"), col("w2"))
  }

  /** q106 output size: top tokens kept per source. */
  val SourceTopK = 10

  /** q106: per-source top terms — the slice-characterization audit next
    * to the corpus-global q88 heavy hitters: for every source, its
    * [[SourceTopK]] most frequent whitespace tokens (count desc, token
    * asc) with exact counts. The panel a dataset curator reads to see
    * WHAT each source contributes before weighting it (q80) — a source
    * whose top terms are boilerplate is a dedup target, one whose top
    * terms are code keywords mixes differently than prose.
    *
    * Scale posture: one map-side explode + ONE mergeable groupBy
    * (source, token); the rank window partitions by source over the
    * vocab-bounded counts table (never the token stream) and keeps the
    * WindowGroupLimit rank-limit pushdown (the q58 shape). */
  def q106(spark: SparkSession, sfDir: String): DataFrame = {
    val counts = docs(spark, sfDir)
      .select(col("source"), explode(split(col("text"), " ")).as("token"))
      .groupBy(col("source"), col("token")).agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col("source")).orderBy(col("n").desc, col("token"))
    counts.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= SourceTopK)
      .orderBy(col("source"), col("rk"))
  }

  /** q108 threshold-sample size: thresholds are order statistics of a
    * FIXED-size hash-ordered sample, so the threshold computation runs on
    * a constant frame at any corpus size (the CCNet deployment shape —
    * percentile cuts from a sample, applied map-side to the stream). */
  val QualitySampleN = 256

  /** q108: perplexity quality buckets — the CCNet-style (Wenzek et al.
    * LREC'20) corpus partition by language-model score: every scoreable
    * document (≥ 2 tokens) is assigned to head / middle / tail by its
    * q73 per-doc avg-neg-logprob against tercile thresholds, and the
    * output is the per-bucket panel (doc count, score range, bigram
    * mass) plus the thresholds themselves for auditability.
    *
    * Thresholds are ORDER STATISTICS (the ⌈n/3⌉-th and ⌈2n/3⌉-th
    * smallest sample scores), not interpolated percentiles: an order
    * statistic is an ELEMENT of the score multiset, so both engines
    * compare against bit-identical doubles, where interpolation
    * arithmetic could differ by an ulp and flip a boundary doc's bucket.
    * The sample is the first [[QualitySampleN]] docs by the salted h60
    * hash order ("qsample:") — deterministic, uniform, and
    * size-bounded.
    *
    * Scale posture: scoring is q73's machinery (its one corpus-scale
    * fold is per-doc and bounded by doc length); the sample is a
    * TakeOrdered over (hash, doc_id) — constant output; thresholds
    * aggregate the 256-row sample into ONE broadcast row; bucketing is
    * a map-side comparison; the final panel is a ≤3-row grouped
    * aggregate. The score frame is localCheckpoint-pinned (sample +
    * bucket branches — the q104 lesson). */
  def q108(spark: SparkSession, sfDir: String): DataFrame = {
    val sc = perDocLm(spark, sfDir)
      .select(col("doc_id"), col("n_bigrams"), col("avg_neg_logp"))
      .localCheckpoint(true)
    sc.crossJoin(broadcast(thrOf(sc)))
      .select(
        when(col("avg_neg_logp") <= col("t1"), "head")
          .when(col("avg_neg_logp") <= col("t2"), "middle")
          .otherwise("tail").as("bucket"),
        col("avg_neg_logp"), col("n_bigrams"), col("t1"), col("t2"))
      .groupBy(col("bucket"), col("t1"), col("t2"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("avg_neg_logp")).as("min_score"),
        max(col("avg_neg_logp")).as("max_score"),
        sum(col("n_bigrams")).as("sum_bigrams"))
      .orderBy(col("bucket"))
  }

  /** q108's tercile thresholds as a single-row (t1, t2) frame — THE
    * definition, shared by the batch query and the streaming router's
    * freeze step (s22) so the two cannot drift. */
  private[graft] def thrOf(sc: DataFrame): DataFrame = {
    import graft.ops.Dsl.h60
    val samp = sc
      .select(col("doc_id"), col("avg_neg_logp"),
        h60(concat(lit("qsample:"), col("doc_id").cast("string"))).as("hk"))
      .orderBy(col("hk"), col("doc_id"))
      .limit(QualitySampleN)
    samp.agg(sort_array(collect_list(col("avg_neg_logp"))).as("ss"))
      .select(
        // empty-corpus guard (r9 sweep): size(ss) = 0 makes the tercile
        // index 0, which element_at rejects — NULL thresholds instead
        // (the panel is empty anyway; the oracle's list_extract already
        // returns NULL at index 0)
        expr("CASE WHEN size(ss) = 0 THEN CAST(NULL AS DOUBLE) " +
          "ELSE element_at(ss, CAST((size(ss) + 2) div 3 AS INT)) END").as("t1"),
        expr("CASE WHEN size(ss) = 0 THEN CAST(NULL AS DOUBLE) " +
          "ELSE element_at(ss, CAST((2 * size(ss) + 2) div 3 AS INT)) END").as("t2"))
  }
}
