package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.V2WriteCommand
import org.apache.spark.sql.execution.{FormattedMode, QueryExecution}
import org.apache.spark.sql.util.QueryExecutionListener

/** The engine's diagnostic main (not part of the driver contract): times
  * each named query three times (cold/warm/warm2) into the noop sink, as
  * Bench does, clearing the caches between iterations so warm runs measure
  * execution with plan and codegen amortized, not reuse of a previous
  * iteration's cached subtree (Spark's CacheManager matches canonicalized
  * plans across rebuilt DataFrames).
  *
  * Per iteration it reports the plan/run split (analysis, optimization and
  * physical planning are forced before the action; codegen and JIT land in
  * the run phase) and how many classes Janino compiled, read from
  * `CodegenMetrics`, which counts codegen cache misses only. Each query is
  * marked on stderr, so a WARN belongs to the query whose marker precedes
  * it. With `--plans <dir>`, the formatted plan of the last iteration's
  * noop write, as it executed (an adaptive plan in its final form), is
  * written to `<dir>/<query>.txt`.
  *
  * Usage: graft.Profile [--plans <dir>] <query> ...
  * Env SPARK_GRAFT_SF_DIR (default sf0.1) and SPARK_GRAFT_CPUS (default 32),
  * as in Bench. */
object Profile {

  /** One timed iteration: seconds to plan, seconds in all, classes compiled. */
  final case class Iteration(planS: Double, totalS: Double, compiles: Long)

  private val Labels = Seq("cold", "warm", "warm2")

  /** Runs `name` once per label on `spark`, leaving the session running. */
  def profile(spark: SparkSession, sfDir: String, name: String,
      plans: Option[String]): Seq[Iteration] = {
    val fn = SparkEntry.queries(name)
    // the noop write executes as its own command, so the plan that ran is
    // only reachable from the listener bus, which delivers asynchronously
    val writes = new LinkedBlockingQueue[QueryExecution]()
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        if (qe.logical.isInstanceOf[V2WriteCommand]) writes.add(qe)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    System.err.println(s"### PROFILE $name")
    try {
      val iterations = Labels.map { _ =>
        val compiled0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
        val t0 = System.nanoTime()
        val df = fn(spark, sfDir)
        df.queryExecution.executedPlan
        val planS = (System.nanoTime() - t0) / 1e9
        // noop sink, not count(): count() would let ColumnPruning delete
        // the very expressions being profiled
        df.write.format("noop").mode("overwrite").save()
        val totalS = (System.nanoTime() - t0) / 1e9
        val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiled0
        SparkEntry.clearGraftCaches(spark)
        Iteration(planS, totalS, compiles)
      }
      plans.foreach { dir =>
        val last = Labels.flatMap(_ => Option(writes.poll(60, TimeUnit.SECONDS))).lastOption
          .getOrElse(sys.error(s"no executed write seen for $name"))
        Files.createDirectories(Paths.get(dir))
        Files.writeString(Paths.get(dir, s"$name.txt"), last.explainString(FormattedMode))
      }
      iterations
    } finally spark.listenerManager.unregister(listener)
  }

  def main(args: Array[String]): Unit = {
    val (plans, names) = args.toSeq match {
      case "--plans" +: dir +: rest => (Some(dir), rest)
      case rest => (None, rest)
    }
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = SparkEntry.localSession(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    spark.range(1000).selectExpr("sum(id)").count()
    names.foreach { name =>
      val its = profile(spark, sfDir, name, plans)
      Labels.zip(its).foreach { case (label, it) =>
        println(f"PHASE $name $label plan=${it.planS}%.2f run=${it.totalS - it.planS}%.2f compiles=${it.compiles}")
      }
      println(f"PROFILE $name cold=${its(0).totalS}%.2f warm=${its(1).totalS}%.2f warm2=${its(2).totalS}%.2f")
    }
    spark.stop()
  }
}
