package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.streaming._
import graft.tables.Tables

/** The batch workload: one closed-loop client runs a pass of the suite's
  * queries serially (seeded order) into the noop sink, as `graft.Bench`
  * does, then feeds the event log, cut into [[Batches]] ascending-ts
  * micro-batches at seeded boundaries, to the `processBatch` of nine
  * monitor stores and reads each store after the last batch. An untimed
  * warm-up pass fingerprints every query result and every store read; the
  * timed passes then repeat until the window is spent. Each pass starts
  * from empty store directories. */
object Batch {

  /** A sample of two query families: relational, event and statistics
    * queries, where the run phase does most of the work (q02 is the
    * money-sum TPC-H Q1 shape, q33 the BNPL pipeline query), and dedup,
    * vector and text queries with iterative driver loops, where eager
    * build-phase jobs dominate (connected components, BPE merges, IVF). */
  val Suite: Seq[Int] = Seq(2, 25, 33, 190) ++ Seq(57, 94, 158)
  val Batches = 2

  def queryName(n: Int): String = {
    val prefix = f"q$n%02d_"
    SparkEntry.queries.keys.find(_.startsWith(prefix))
      .getOrElse(sys.error(s"no query q$n in SparkEntry.queries"))
  }

  val Loaders: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "region" -> Tables.region _, "nation" -> Tables.nation _, "customer" -> Tables.customer _,
    "supplier" -> Tables.supplier _, "part" -> Tables.part _, "orders" -> Tables.orders _,
    "lineitem" -> Tables.lineitem _, "events" -> Tables.events _,
    "documents" -> Tables.documents _, "embeddings" -> Tables.embeddings _)

  final case class Store(name: String, ingest: (DataFrame, String, Long) => Unit,
      read: (SparkSession, String) => DataFrame, twin: (SparkSession, String) => DataFrame)

  private def q(name: String): (SparkSession, String) => DataFrame = SparkEntry.queries(name)

  /** Each store with the batch query its final read must equal (the twin's
    * fingerprint is recorded with the query fingerprints). The NDV sketch
    * has no batch query; its twin is the same store fed the whole log as
    * one batch. */
  def stores(ndvTwinDir: String): Seq[Store] = Seq(
    Store("ledger", LedgerStore.processBatch, LedgerStore.ledger, q("q115_join_full_outer")),
    Store("ndv", NdvMonitor.processBatch, NdvMonitor.ndv, (s, data) => {
      NdvMonitor.processBatch(Tables.events(s, data), ndvTwinDir, 0L)
      NdvMonitor.ndv(s, ndvTwinDir)
    }),
    Store("bootstrap", BootstrapMonitor.processBatch, BootstrapMonitor.ci, q("q184_bootstrap_ci")),
    Store("rfm", RfmMonitor.processBatch, RfmMonitor.segments, q("q156_rfm_segments")),
    Store("seasonal", SeasonalMonitor.processBatch, SeasonalMonitor.baseline, q("q151_seasonal_baseline")),
    Store("chisq", ChisqMonitor.processBatch, ChisqMonitor.readout, q("q165_ab_chisq")),
    Store("bars", BarStats.processBatch, BarStats.bars, q("q159_ohlc_bars")),
    Store("survival", SurvivalMonitor.processBatch, SurvivalMonitor.hazard, q("q164_survival_hazard")),
    Store("funnel", FunnelTracker.processBatch, FunnelTracker.funnelState, q("q62_funnel")))

  /** Ascending-ts batch bounds: equal windows over [lo, hi], each inner
    * boundary moved by a seeded offset of up to a fifth of a window. */
  def bounds(rng: scala.util.Random, lo: Long, hi: Long, n: Int): Seq[Long] = {
    val w = (hi - lo).toDouble / n
    lo +: (1 until n).map(i => lo + (w * (i + (rng.nextDouble() - 0.5) * 0.4)).toLong) :+ (hi + 1)
  }

  private def dataFiles(dir: String): Long = {
    def walk(f: java.io.File): Long =
      if (f.isDirectory) Option(f.listFiles()).map(_.map(walk).sum).getOrElse(0L)
      else if (f.getName.endsWith(".parquet")) 1L else 0L
    walk(new java.io.File(dir))
  }

  final case class Sample(query: String, seconds: Double, buildS: Double,
      runS: Double, buildJobs: Long, runJobs: Long)
  final case class Call(store: String, kind: String, batch: Int, seconds: Double, jobs: Long)
  final case class Pass(samples: Seq[Sample], calls: Seq[Call], dirs: Map[String, String]) {
    def seconds: Double = samples.map(_.seconds).sum + calls.map(_.seconds).sum
    def ingestS: Double = calls.filter(_.kind == "ingest").map(_.seconds).sum
    def readS: Double = calls.filter(_.kind == "read").map(_.seconds).sum
  }

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val t = ctx.tracer
    val dir = ctx.opts.data
    val order = ctx.rng.shuffle(Suite).map(queryName)
    val all = stores(ctx.workDir("ndv-twin"))
    // counted from two threads during the warm-up
    val lock = new Object
    val problems = Seq.newBuilder[String]
    var attempted = 0L
    var failed = 0L
    def attempt(): Unit = lock.synchronized { attempted += 1 }
    def problem(what: String): Unit = lock.synchronized { failed += 1; problems += what }
    def failure(what: String, e: Throwable): Unit =
      problem(s"$what: ${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(200)}")

    // store batches are made and written out before every timer (parquet,
    // not a local checkpoint: the cache clear after each query drops those)
    val ev = Tables.events(spark, dir)
    val Array(lo, hi) = ev.agg(min(col("ts")).cast("long"), max(col("ts")).cast("long"))
      .head().toSeq.map(_.asInstanceOf[Long]).toArray
    val cuts = bounds(ctx.rng, lo, hi, Batches)
    val batchDir = ctx.workDir("batches")
    val batches = cuts.sliding(2).zipWithIndex.map { case (Seq(a, b), i) =>
      val path = s"$batchDir/$i"
      ev.filter(col("ts").cast("long") >= a && col("ts").cast("long") < b).write.parquet(path)
      spark.read.parquet(path)
    }.toIndexedSeq
    val sizes = batches.map(_.count())

    def execute(name: String, fingerprint: Boolean, clear: Boolean): Option[(Sample, Option[Fingerprint.Fp])] = {
      attempt()
      val t0 = System.nanoTime()
      var fp: () => Fingerprint.Fp = null
      try {
        val (built, b0, b1) = t.span("queries", s"build:$name", name) {
          val s = System.nanoTime()
          val df = SparkEntry.queries(name)(spark, dir)
          (df, s, System.nanoTime())
        }
        val df = if (fingerprint) {
          val (o, read) = Fingerprint.observe(built, name); fp = read; o
        } else built
        val (r0, r1) = t.span("queries", s"run:$name", name) {
          val s = System.nanoTime()
          df.write.format("noop").mode("overwrite").save()
          (s, System.nanoTime())
        }
        val jobs = t.spansOf("queries").filter(_.req == name).takeRight(2).map(_.jobs.get)
        Some((Sample(name, (System.nanoTime() - t0) / 1e9, (b1 - b0) / 1e9, (r1 - r0) / 1e9,
          jobs.headOption.getOrElse(0L), jobs.lastOption.getOrElse(0L)), Option(fp).map(_())))
      } catch {
        case e: Throwable => failure(s"$name failed", e); None
      } finally if (clear) SparkEntry.clearGraftCaches(spark)
    }

    def call(s: Store, kind: String, b: Int)(body: => Unit): Option[Call] = {
      attempt()
      val t0 = System.nanoTime()
      try {
        t.span("stores", s"$kind:${s.name}", s"batch:$b")(body)
        val jobs = t.spansOf("stores").lastOption.map(_.jobs.get).getOrElse(0L)
        Some(Call(s.name, kind, b, (System.nanoTime() - t0) / 1e9, jobs))
      } catch {
        case e: Throwable => failure(s"${s.name} $kind batch $b", e); None
      }
    }

    // With `fingerprint`, every query result and store read is
    // fingerprinted by an observation on its own noop write.
    def queryPass(fingerprint: Boolean, clear: Boolean): (Seq[Sample], Map[String, Fingerprint.Fp]) = {
      val queried = order.flatMap(n => execute(n, fingerprint, clear).map(n -> _))
      (queried.map(_._2._1), queried.flatMap { case (n, (_, fp)) => fp.map(n -> _) }.toMap)
    }
    def storePass(pass: Int, fingerprint: Boolean, stores: Seq[Store] = all)
        : (Seq[Call], Map[String, String], Map[String, Fingerprint.Fp]) = {
      val dirs = stores.map(s => s.name -> ctx.workDir(s"p$pass-${s.name}")).toMap
      val ingests = batches.indices.flatMap(b =>
        stores.flatMap(s => call(s, "ingest", b)(s.ingest(batches(b), dirs(s.name), b.toLong))))
      val fps = Map.newBuilder[String, Fingerprint.Fp]
      val reads = stores.flatMap(s => call(s, "read", Batches - 1) {
        val df = s.read(spark, dirs(s.name))
        if (!fingerprint) df.write.format("noop").mode("overwrite").save()
        else {
          val (o, fp) = Fingerprint.observe(df, s"store:${s.name}")
          o.write.format("noop").mode("overwrite").save()
          fps += s"store:${s.name}" -> fp()
        }
      })
      (ingests ++ reads, dirs, fps.result())
    }

    // Warm-up, untimed: the query pass on this thread beside the store pass
    // split over two more (the stores write to their own directories).
    // The queries skip their cache clear until all are done: it would drop
    // blocks the stores are still using.
    val storeWarm = new java.util.concurrent.ConcurrentLinkedQueue[(Seq[Call], Map[String, Fingerprint.Fp])]()
    val storeThreads = all.grouped((all.size + 1) / 2).toSeq.map { group =>
      val th = new Thread(() => { val (c, _, f) = storePass(0, fingerprint = true, group); storeWarm.add((c, f)) })
      th.start(); th
    }
    val (queryWarm, queryFps) = queryPass(fingerprint = true, clear = false)
    storeThreads.foreach(_.join())
    SparkEntry.clearGraftCaches(spark)
    if (storeWarm.size != storeThreads.size) { attempt(); problem("a store warm-up thread died") }
    val got = queryFps ++ storeWarm.asScala.flatMap(_._2)
    val fpFile = Paths.get(ctx.opts.fingerprints)
    def recorded: Map[String, Map[String, Long]] =
      if (Files.exists(fpFile)) Json.readFingerprints(Files.readString(fpFile)) else Map.empty
    if (ctx.opts.record) {
      val twins = all.map(s => s"store:${s.name}" -> Fingerprint.of(s.twin(spark, dir)).toMap)
      val merged = recorded ++ got.filter(!_._1.startsWith("store:")).map { case (k, v) => k -> v.toMap } ++ twins
      Files.writeString(fpFile, merged.toSeq.sortBy(_._1)
        .map { case (k, v) => s"  ${Json.quote(k)}: ${Json.render(v)}" }.mkString("{\n", ",\n", "\n}\n"))
    }
    val expected = recorded
    for ((name, fp) <- got) {
      expected.get(name) match {
        case None =>
          problem(s"$name: no recorded fingerprint")
        case Some(want0) =>
          // --corrupt 1 (self-test): a wrong store twin must read as a failure
          val want = if (ctx.opts.corrupt && name == s"store:${all.head.name}")
            want0.updated("rows", want0("rows") + 1) else want0
          if (fp.toMap != want) problem(s"$name: fingerprint $fp != recorded $want")
      }
    }

    ctx.markTimedStart()
    val engine = new Layers.EngineWindow(t)
    val window = new Window(ctx.opts.seconds)
    val passes = Seq.newBuilder[Pass]
    var pass = 0
    while (window.another(pass)) {
      pass += 1
      passes += t.span("suite", s"pass:$pass") {
        val (samples, _) = queryPass(fingerprint = false, clear = true)
        val (calls, dirs, _) = storePass(pass, fingerprint = false)
        Pass(samples, calls, dirs)
      }
    }
    val engineMetrics = engine.metrics
    val byPass = passes.result()
    val samples = byPass.flatMap(_.samples)
    val calls = byPass.flatMap(_.calls)
    val times = samples.map(_.seconds)
    val totalS = Layers.median(byPass.map(_.seconds))
    val suiteS = Layers.median(byPass.map(_.samples.map(_.seconds).sum))
    val ingestS = Layers.median(byPass.map(_.ingestS))
    val readS = Layers.median(byPass.map(_.readS))
    val batchS = byPass.flatMap(_.calls.filter(_.kind == "ingest").groupBy(_.batch).values.map(_.map(_.seconds).sum))
    val p50 = Layers.percentile(times, 0.5)
    val p80 = Layers.percentile(times, 0.8)
    val eventsPerS = sizes.sum / ingestS

    val layer = if (!t.enabled) Map.empty[String, Double] else {
      val loads = for ((table, load) <- Loaders)
        yield t.span("tables", s"load:$table") { load(spark, dir) }
      val loadSpans = t.spansOf("tables")
      val buildJobs = samples.map(_.buildJobs).sum.toDouble
      val runJobs = samples.map(_.runJobs).sum.toDouble
      engineMetrics ++ Map(
        "tables.load_s" -> Layers.median(loadSpans.map(_.seconds)),
        "tables.load_jobs" -> loadSpans.map(_.jobs.get).sum.toDouble / loads.size,
        "queries.build_s" -> samples.map(_.buildS).sum / pass,
        "queries.build_jobs" -> buildJobs / pass,
        "queries.run_s" -> samples.map(_.runS).sum / pass,
        "queries.run_jobs" -> runJobs / pass,
        "queries.eager_share" -> buildJobs / (buildJobs + runJobs).max(1.0)) ++
      all.flatMap { s =>
        val mine = calls.filter(_.store == s.name)
        val ing = mine.filter(_.kind == "ingest")
        Seq(s"stores.${s.name}.ingest_s" -> ing.map(_.seconds).sum / pass,
          s"stores.${s.name}.read_s" -> mine.filter(_.kind == "read").map(_.seconds).sum / pass,
          s"stores.${s.name}.jobs_per_batch" -> ing.map(_.jobs).sum.toDouble / ing.size.max(1),
          s"stores.${s.name}.files" -> dataFiles(byPass.head.dirs(s.name)).toDouble)
      }
    }
    val perQuery = samples.groupBy(_.query).map { case (q, ss) =>
      q -> Map("seconds" -> ss.map(_.seconds), "build_s" -> ss.map(_.buildS),
        "run_s" -> ss.map(_.runS), "build_jobs" -> ss.map(_.buildJobs), "run_jobs" -> ss.map(_.runJobs))
    }
    Outcome(attempted, failed, problems.result(),
      e2e = Map("total_s" -> totalS, "op_p50_s" -> p50, "op_tail_s" -> p80, "ops_per_s" -> eventsPerS),
      named = Map("suite_s" -> (suiteS, "s"), "query_p50_s" -> (p50, "s"),
        "query_p80_s" -> (p80, "s"), "queries_timed" -> (samples.size.toDouble, "count"),
        "monitor_ingest_s" -> (ingestS, "s"), "monitor_read_s" -> (readS, "s"),
        "monitor_batch_p50_s" -> (Layers.median(batchS), "s"),
        "monitor_events_per_s" -> (eventsPerS, "1/s"),
        "store_calls_timed" -> (calls.size.toDouble, "count"), "passes" -> (pass.toDouble, "count")),
      layer = layer,
      detail = Map("inputs_digest" -> Main.digest(order ++ cuts), "order" -> order,
        "warm_pass_s" -> Map("queries" -> queryWarm.map(_.seconds).sum,
          "stores" -> storeWarm.asScala.toSeq.map(_._1.map(_.seconds).sum)),
        "batch_rows" -> sizes, "batch_bounds_s" -> cuts,
        "pass_totals_s" -> byPass.map(_.seconds), "per_query" -> perQuery,
        "calls" -> calls.map(c => Map("store" -> c.store, "kind" -> c.kind, "batch" -> c.batch,
          "s" -> c.seconds, "jobs" -> c.jobs))))
  }
}
