package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-rehearsal corpus amplifier (VERDICT r8 item 1): replicates the
  * sf0.1 `documents` / `embeddings` tables A× with per-replica re-salting
  * so the dedup/cluster structure stays NON-DEGENERATE — each replica
  * keeps the original corpus's internal near-dup pairs, shingle df
  * profile and kNN geometry, while contributing nothing across replicas:
  *
  *  - documents: `doc_id += r·IdStride`; every whitespace token of
  *    replica r > 0 gets the suffix `~r`, so shingles/tokens/vocab are
  *    replica-scoped — within-replica Jaccard/MinHash/containment
  *    structure is EXACTLY the original's (token identity is the only
  *    thing the kernels see), cross-replica overlap is zero. Without the
  *    salt every original doc would become an A-clone cluster and the
  *    pair tables would grow as A² — a degenerate corpus no real 32×
  *    crawl resembles; with it, ground-truth pair volume is exactly A×.
  *  - embeddings: `vec_id += r·IdStride`; replica r's vectors are
  *    cyclically rotated by (13·r) mod 64 dims — an orthogonal transform,
  *    so within-replica cosines (hence the kNN graph, IVF geometry and
  *    LSH collision structure) are bit-preserved while cross-replica
  *    cosines scramble. `label += (r mod ⌈√A⌉)·100000`, so the
  *    label-seeded IVF codebook trains ~√A× more cells at A× the data —
  *    the ncells ∝ √N production design point SURVEY §2.2 (q90) declares.
  *
  * The TPC-H business tables (customer/supplier/part/orders/lineitem)
  * amplify by key-shift ([[amplifyKeyed]], r11 item 1): each replica is a
  * disjoint key world, so the q116–q130 join shapes scale A× without
  * cross-replica join pollution. nation/region stay byte-copied — the
  * bounded dimensions a bigger business still has 25/5 of.
  *
  * Driven by `tools/make_scale.sh` / [[BenchScale]]. Writes only under
  * the given output dir (never into /root/testdata).
  */
object ScaleGen {

  /** Replica id block stride — far above any testdata id. */
  val IdStride = 10000000L

  /** Label-group count: ncells multiplies by ~√A (see class doc). */
  def labelGroups(a: Int): Int = math.ceil(math.sqrt(a.toDouble)).toInt

  private[graft] def amplifyDocuments(docs: DataFrame, a: Int): DataFrame = {
    val reps = docs.sparkSession.range(a).select(col("id").cast("int").as("r"))
    docs.crossJoin(broadcast(reps))
      .select(
        (col("doc_id") + col("r").cast("long") * IdStride).as("doc_id"),
        when(col("r") === 0, col("text"))
          .otherwise(array_join(
            transform(split(col("text"), " "),
              t => concat(t, lit("~"), col("r").cast("string"))),
            " ")).as("text"),
        col("lang"), col("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
  }

  /** events: `event_id` and `user_id` shift by r·IdStride — every
    * replica's users are fresh, so per-user event chains (the state unit
    * of q113/s24/s13 and every user window) replicate without ever
    * interleaving: user cardinality grows A× at the original per-user
    * cadence, which is how a real event log grows. Timestamps are kept —
    * replicas are concurrent traffic, not history replay. */
  private[graft] def amplifyEvents(ev: DataFrame, a: Int): DataFrame = {
    val reps = ev.sparkSession.range(a).select(col("id").cast("int").as("r"))
    ev.crossJoin(broadcast(reps))
      .select(
        (col("event_id") + col("r").cast("long") * IdStride).as("event_id"),
        col("ts"),
        (col("user_id") + col("r").cast("long") * IdStride).as("user_id"),
        col("event_type"), col("value"), col("props"))
  }

  /** TPC-H-family amplification (r11 verdict item 1 — the q125–q130
    * correlation shapes had no measurable growth before this): every key
    * column in `keyCols` shifts by r·IdStride, so each replica is a
    * self-contained order/customer/supplier/part world — joins never
    * cross replicas (the amplified corpus behaves like A× the business,
    * not A clones of one order book), and per-key group cardinality
    * grows A× at the original per-key row count. nation/region stay
    * shared: they are the bounded dimension tables a bigger business
    * still has 25/5 of. Key dtypes are preserved (int keys stay int —
    * r ≤ 64 keeps every shifted key < 2³¹). */
  private[graft] def amplifyKeyed(df: DataFrame, a: Int, keyCols: Seq[String]): DataFrame = {
    val reps = df.sparkSession.range(a).select(col("id").cast("int").as("r"))
    val types = df.schema.fields.map(f => f.name -> f.dataType).toMap
    df.crossJoin(broadcast(reps))
      .select(df.columns.toSeq.map { c =>
        if (keyCols.contains(c))
          (col(c) + col("r").cast("long") * IdStride).cast(types(c)).as(c)
        else col(c)
      }: _*)
  }

  /** Hot replica count for the skew rehearsal: ~30% of the corpus. */
  def hotReps(a: Int): Int = math.ceil(0.3 * a).toInt

  /** `hot` > 0 plants IVF-cell skew (the AQE rehearsal, r9 task 6):
    * replicas r < hot keep replica 0's geometry (no rotation) AND
    * replica 0's label space, so the label-seeded cells of group 0
    * accumulate ~hot× the members of any rotated group's cells — ~30% of
    * the corpus concentrated in ~1/labelGroups of the cells, the hot-key
    * shape a crawler's duplicate-heavy source produces. Everything else
    * is the non-degenerate amplification documented above. */
  private[graft] def amplifyEmbeddings(emb: DataFrame, a: Int, hot: Int = 0): DataFrame = {
    val reps = emb.sparkSession.range(a).select(col("id").cast("int").as("r"))
    val shift = (col("r") * 13) % 64
    val grp = when(col("r") < hot, lit(0))
      .otherwise(pmod(col("r"), lit(labelGroups(a))))
    emb.crossJoin(broadcast(reps))
      .select(
        (col("vec_id") + col("r").cast("long") * IdStride).as("vec_id"),
        when(col("r") === 0 || col("r") < hot, col("embedding"))
          .otherwise(concat(
            slice(col("embedding"), shift + 1, lit(64) - shift),
            slice(col("embedding"), lit(1), shift))).as("embedding"),
        (col("label") + grp * 100000)
          .cast("int").as("label"))
  }

  /** Build the amplified corpus at `outDir` (idempotent via an _OK marker;
    * pass force = true to rebuild). File counts scale with A so the scan
    * parallelism grows with the data like a real ingest's would. */
  def amplify(spark: SparkSession, srcDir: String, outDir: String, a: Int,
      force: Boolean = false, skewHot: Boolean = false): Unit = {
    // marker carries the fixture vintage: v2 added events amplification,
    // v3 the TPC-H key-shift family, so older corpora regenerate
    // automatically; skew corpora get their own marker so a dir can't
    // silently serve the wrong variant
    val okFile = new java.io.File(outDir, if (skewHot) "_OK_v3skew" else "_OK_v3")
    if (okFile.exists() && !force) return
    val out = new java.io.File(outDir)
    if (out.exists()) {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm)
        f.delete()
      }
      rm(out)
    }
    out.mkdirs()
    amplifyDocuments(spark.read.parquet(s"$srcDir/documents.parquet"), a)
      .repartition(math.max(2, a / 2))
      .write.mode("overwrite").parquet(s"$outDir/documents.parquet")
    amplifyEmbeddings(spark.read.parquet(s"$srcDir/embeddings.parquet"), a,
        if (skewHot) hotReps(a) else 0)
      .repartition(math.max(2, a / 4))
      .write.mode("overwrite").parquet(s"$outDir/embeddings.parquet")
    amplifyEvents(spark.read.parquet(s"$srcDir/events.parquet"), a)
      .repartition(math.max(2, a / 2))
      .write.mode("overwrite").parquet(s"$outDir/events.parquet")
    val tpchKeys = Map(
      "customer" -> Seq("c_custkey"),
      "supplier" -> Seq("s_suppkey"),
      "part" -> Seq("p_partkey"),
      "orders" -> Seq("o_orderkey", "o_custkey"),
      "lineitem" -> Seq("l_orderkey", "l_partkey", "l_suppkey"))
    for ((t, keys) <- tpchKeys)
      amplifyKeyed(spark.read.parquet(s"$srcDir/$t.parquet"), a, keys)
        .repartition(math.max(2, a / 4))
        .write.mode("overwrite").parquet(s"$outDir/$t.parquet")
    for (t <- Seq("region", "nation")) {
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"$srcDir/$t.parquet"),
        java.nio.file.Paths.get(s"$outDir/$t.parquet"),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
    okFile.createNewFile()
    ()
  }

  def main(args: Array[String]): Unit = {
    val src = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val outRoot = sys.env.getOrElse("SPARK_GRAFT_SCALE_DIR", "target/scale")
    val a = sys.env.getOrElse("SPARK_GRAFT_SCALE_A", "32").toInt
    val spark = SparkEntry.localSession(32)
    amplify(spark, src, s"$outRoot/x$a", a, force = true)
    spark.stop()
  }
}
