package graft

import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

import graft.ops.Ann
import graft.queries.Vectors

/** Laws of the scale-rehearsal machinery (ScaleGen / Ann.bucketsWide /
  * BenchScale's density scaling) — the rehearsal's conclusions are only
  * as good as the amplifier's structure-preservation guarantees, so those
  * guarantees are pinned here instead of assumed.
  */
class ScaleSpec extends SparkSpec {

  test("bucketsWide(4) IS the production bucket family — same planes, same values") {
    val e = spark.read.parquet(s"$sf001/embeddings.parquet")
    val both = e.select(
        Ann.buckets(col("embedding")).as("prod"),
        Ann.bucketsWide(col("embedding"), Ann.BitsPerTable).as("wide"))
      .filter(not(col("prod") === col("wide")))
    assert(both.count() === 0L,
      "wide family at k=4 must reproduce the oracle-mirrored buckets bit for bit")
  }

  test("bucketsWide: more bits refine buckets (occupancy never grows with k)") {
    val e = spark.read.parquet(s"$sf001/embeddings.parquet")
    def occupancy(bits: Int): Long =
      e.select(posexplode(Ann.bucketsWide(col("embedding"), bits)).as(Seq("t", "b")))
        .groupBy(col("t"), col("b")).count()
        .agg(sum(col("count") * col("count"))).head().getLong(0)
    // Σ|bucket|² is the candidate volume of the LSH self-join; adding sign
    // bits can only split buckets, never merge them.
    val o4 = occupancy(4)
    val o6 = occupancy(6)
    val o8 = occupancy(8)
    assert(o6 < o4 && o8 < o6, s"occupancy must fall with k: $o4, $o6, $o8")
  }

  test("amplifyDocuments: A x rows, replica 0 verbatim, replica vocabularies disjoint") {
    val docs = spark.read.parquet(s"$sf001/documents.parquet")
    val amp = ScaleGen.amplifyDocuments(docs, 3)
    assert(amp.count() === 3 * docs.count())
    // replica 0 is the original corpus byte for byte
    val r0 = amp.filter(col("doc_id") < ScaleGen.IdStride)
      .select(col("doc_id"), col("text"))
    assert(r0.except(docs.select(col("doc_id"), col("text"))).count() === 0L)
    // n_chars stays the length invariant the corpus ships with
    assert(amp.filter(col("n_chars") =!= length(col("text"))).count() === 0L)
    // no token appears in two replicas (zero cross-replica shingle overlap
    // -> dedup candidate volume is exactly A x the original's)
    val tok = amp.select(
        (col("doc_id") / ScaleGen.IdStride).cast("int").as("r"),
        explode(split(col("text"), " ")).as("token"))
      .distinct()
    val shared = tok.groupBy(col("token"))
      .agg(countDistinct(col("r")).as("nr"))
      .filter(col("nr") > 1)
    assert(shared.count() === 0L, "replica vocabularies must be disjoint")
  }

  test("amplifyEvents: A x rows, replica 0 verbatim, user sets disjoint, per-user SCD2 structure replicates exactly") {
    val ev = spark.read.parquet(s"$sf001/events.parquet")
      .select(col("user_id"), col("event_id"), col("event_type"), col("ts"))
    val amp = ScaleGen.amplifyEvents(spark.read.parquet(s"$sf001/events.parquet"), 3)
      .localCheckpoint(true)
    assert(amp.count() === 3 * ev.count())
    // replica 0 is the original log byte for byte
    val r0 = amp.filter(col("event_id") < ScaleGen.IdStride)
      .select(col("user_id"), col("event_id"), col("event_type"), col("ts"))
    assert(r0.except(ev).count() === 0L)
    // no user appears in two replicas → per-user chains never interleave
    val shared = amp.select(
        (col("event_id") / ScaleGen.IdStride).cast("int").as("r"), col("user_id"))
      .distinct()
      .groupBy(col("user_id")).agg(countDistinct(col("r")).as("nr"))
      .filter(col("nr") > 1)
    assert(shared.count() === 0L, "replica user sets must be disjoint")
    // the state family's unit of work replicates exactly: SCD2 history on
    // the amplified log is A x the base history, row for row per replica
    val baseHist = graft.queries.Events.scd2(ev).count()
    val ampHist = graft.queries.Events.scd2(
      amp.select(col("user_id"), col("event_id"), col("event_type"), col("ts"))).count()
    assert(ampHist === 3 * baseHist,
      s"per-user chains must replicate independently: $ampHist vs 3*$baseHist")
  }

  test("amplifyEmbeddings: rotation preserves within-replica geometry, labels gain sqrt(A) groups") {
    val emb = spark.read.parquet(s"$sf001/embeddings.parquet")
    val amp = ScaleGen.amplifyEmbeddings(emb, 4).localCheckpoint(true)
    assert(amp.count() === 4 * emb.count())
    // norms are rotation-invariant (exact permutation of components; the
    // sequential-fold sum reorders, so compare at 1e-6)
    val n0 = amp.filter(col("vec_id") < ScaleGen.IdStride)
      .select(col("vec_id"),
        aggregate(col("embedding"), lit(0.0d),
          (a, v) => a + v.cast("double") * v.cast("double")).as("n2"))
    val n2 = amp.filter(col("vec_id") >= 2 * ScaleGen.IdStride &&
        col("vec_id") < 3 * ScaleGen.IdStride)
      .select((col("vec_id") - 2 * ScaleGen.IdStride).as("vec_id"),
        aggregate(col("embedding"), lit(0.0d),
          (a, v) => a + v.cast("double") * v.cast("double")).as("n2r"))
    val drift = n0.join(n2, Seq("vec_id"))
      .filter(abs(col("n2") - col("n2r")) > 1e-6)
    assert(drift.count() === 0L, "cyclic rotation must preserve norms")
    // within-replica pairwise cosine structure: spot-check the first two
    // vectors' dot product in replica 0 vs replica 3
    def dot(r: Int): Double = {
      val lo = r.toLong * ScaleGen.IdStride
      val pair = amp.filter(col("vec_id") === lo || col("vec_id") === lo + 1)
        .orderBy(col("vec_id"))
        .select(col("embedding")).collect()
      val a = pair(0).getSeq[Float](0)
      val b = pair(1).getSeq[Float](0)
      a.zip(b).foldLeft(0.0d) { case (acc, (x, y)) => acc + x.toDouble * y.toDouble }
    }
    assert(math.abs(dot(0) - dot(3)) < 1e-6,
      "within-replica dot products must survive the rotation")
    // label groups: ceil(sqrt(4)) = 2 -> distinct labels double
    val baseLabels = emb.select(col("label")).distinct().count()
    val ampLabels = amp.select(col("label")).distinct().count()
    assert(ampLabels === 2 * baseLabels)
  }

  test("amplified corpus linearity: q36 pair volume at A=2 is exactly 2x the base (the non-degeneracy guarantee)") {
    val out = tmpDir("scale-x2")
    ScaleGen.amplify(spark, sf001, out, 2)
    val basePairs = SparkEntry.queries("q36_ngram_jaccard")(spark, sf001).count()
    val ampPairs = SparkEntry.queries("q36_ngram_jaccard")(spark, out).count()
    assert(ampPairs === 2 * basePairs,
      s"salted replicas must contribute pairs independently: $ampPairs vs 2*$basePairs")
    SparkEntry.clearGraftCaches(spark)
  }

  test("density-scaled knn: bits = 4 + log2(A); scaled pairs stay per-src bounded") {
    assert(BenchScale.scaledBits(1) === 4)
    assert(BenchScale.scaledBits(4) === 6)
    assert(BenchScale.scaledBits(32) === 9)
    val out = tmpDir("scale-knn-x2")
    ScaleGen.amplify(spark, sf001, out, 2)
    val pairs = Vectors.knnPairsOn(
        graft.tables.Tables.embeddings(spark, out),
        Ann.bucketsWide(_, BenchScale.scaledBits(2)))
    // contract shape holds under the wide family: rk within 1..KnnK,
    // no self-pairs, at most KnnK rows per src
    val bad = pairs.filter(col("rk") < 1 || col("rk") > Vectors.KnnK ||
      col("src") === col("dst"))
    assert(bad.count() === 0L)
    val overK = pairs.groupBy(col("src")).count()
      .filter(col("count") > Vectors.KnnK)
    assert(overK.count() === 0L)
    SparkEntry.clearGraftCaches(spark)
  }

  test("stream legs: one per streaming_x32 key of BENCH_scale.json, in order, built without running") {
    val committed = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new java.io.File("BENCH_scale.json")).get("streaming_x32")
    val want = committed.fieldNames().asScala.toList
    // nothing exists under these paths: building the table must not touch them
    val missing = "/nonexistent/bench-scale"
    val keys = BenchScale.streamLegs(spark, missing, missing, missing, 32).map(_.key).toList
    assert(keys == want, s"leg keys drifted from the artifact: ${keys.diff(want)} vs ${want.diff(keys)}")
  }

  test("stream batches: at most 4 per leg, none empty, every replica in one; 4 x 8 at x32") {
    for (aMax <- Seq(1, 2, 5, 32)) {
      val blocks = BenchScale.streamBatches(aMax)
      assert(blocks.nonEmpty && blocks.size <= 4, s"x$aMax: ${blocks.size} batches")
      assert(blocks.forall(_.nonEmpty), s"x$aMax: an empty batch in $blocks")
      assert(blocks.flatten == (0 until aMax), s"x$aMax: replicas $blocks")
    }
    assert(BenchScale.streamBatches(32).map(_.size) == Seq(8, 8, 8, 8))
  }

  test("confirm octave: 2 x the largest ladder factor") {
    assert(BenchScale.confirmFactor(Seq(1, 4, 32)) === 64)
    assert(BenchScale.confirmFactor(Seq(1, 2)) === 4)
  }
}
