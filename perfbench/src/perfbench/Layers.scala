package perfbench

/** The per-layer metric names a traced run reports (BENCHMARK.json
  * `per_layer`). A workload that does not touch a layer reports 0 for it. */
object Layers {
  /** Short name -> streaming query name of BnplPipeline's five flows. */
  val PipelineQueries: Seq[(String, String)] = Seq(
    "log" -> "bnpl_event_log", "derive" -> "bnpl_derive_promises",
    "promises" -> "bnpl_payment_promises", "bills" -> "bnpl_member_bills",
    "notify" -> "bnpl_notify")

  val Stores: Seq[String] =
    Seq("ledger", "ndv", "bootstrap", "rfm", "seasonal", "chisq", "bars", "survival", "funnel")

  val names: Seq[String] =
    Seq("tables.load_s", "tables.load_jobs",
      "queries.build_s", "queries.build_jobs", "queries.run_s", "queries.run_jobs",
      "queries.eager_share",
      "engine.stages", "engine.tasks", "engine.shuffle_write_mb", "engine.spill_mb",
      "engine.codegen_compile_s", "engine.gc_s") ++
    PipelineQueries.flatMap { case (q, _) =>
      Seq("batches", "trigger_p50_ms", "add_batch_ms", "get_batch_ms", "commit_ms",
        "empty_batch_share", "backlog_end").map(m => s"pipeline.$q.$m")
    } ++
    Seq("pipeline.promise_visible_p50_s", "pipeline.promise_visible_p99_s", "pipeline.bills.state_rows", "pipeline.bills.state_mb", "pipeline.checkpoint_mb",
      "pipeline.promise_files", "pipeline.dup_dropped_share", "pipeline.read_errors",
      "generator.late_ms_max") ++
    Stores.flatMap(s => Seq("ingest_s", "read_s", "jobs_per_batch", "files").map(m => s"stores.$s.$m"))

  /** Engine totals over a measured window, from the tracer's listener and
    * the JVM's GC and codegen gauges. */
  final class EngineWindow(t: Tracer) {
    private val c = t.total
    private val start = (c.stages.get, c.tasks.get, c.shuffleWriteBytes.get, c.spillBytes.get,
      JvmGauges.gcSeconds)
    def metrics: Map[String, Double] = if (!t.enabled) Map.empty else Map(
      "engine.stages" -> (c.stages.get - start._1).toDouble,
      "engine.tasks" -> (c.tasks.get - start._2).toDouble,
      "engine.shuffle_write_mb" -> (c.shuffleWriteBytes.get - start._3) / 1e6,
      "engine.spill_mb" -> (c.spillBytes.get - start._4) / 1e6,
      "engine.gc_s" -> (JvmGauges.gcSeconds - start._5),
      "engine.codegen_compile_s" -> JvmGauges.codegenSeconds)
  }

  /** The p-quantile by the Harrell-Davis estimator: a Beta-weighted mean
    * of all order statistics. Steadier than one order statistic when the
    * samples cluster, as a suite's per-query times do. */
  def percentile(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else if (xs.size == 1) xs.head
    else {
      import org.apache.commons.math3.special.Beta.regularizedBeta
      val s = xs.sorted
      val n = s.size
      val (a, b) = (p * (n + 1), (1 - p) * (n + 1))
      val cdf = (0 to n).map(i => regularizedBeta(i.toDouble / n, a, b))
      s.indices.map(i => (cdf(i + 1) - cdf(i)) * s(i)).sum
    }

  def median(xs: Seq[Double]): Double = percentile(xs, 0.5)
}
