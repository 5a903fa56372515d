package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._
import scala.jdk.OptionConverters._

import org.apache.spark.sql.SparkSession

/** What a workload hands back. `e2e` holds the end-to-end metrics of
  * BENCHMARK.json (seconds or 1/s), `named` the workload's own figures
  * under the names the benchmark docs use, `layer` the per-layer metrics
  * (traced runs), `detail` anything else for the artifact. */
final case class Outcome(
    attempted: Long,
    failed: Long,
    problems: Seq[String],
    e2e: Map[String, Double],
    named: Map[String, (Double, String)],
    layer: Map[String, Double] = Map.empty,
    detail: Map[String, Any] = Map.empty)

/** The measured window of a closed-loop workload: passes repeat while the
  * next one, as long as the last, still ends inside the window. */
final class Window(seconds: Int) {
  private val start = System.nanoTime()
  private var lastPassStart = start
  def another(passesDone: Int): Boolean = {
    val now = System.nanoTime()
    val ok = passesDone == 0 || now + (now - lastPassStart) <= start + seconds * 1000000000L
    lastPassStart = now
    ok
  }
}

/** Run-wide context handed to every workload. */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val opts: Main.Opts) {
  val rng = new scala.util.Random(opts.seed)
  private var timedStartMs: Double = Double.NaN
  /** Set-up time excluded from `setup_s` (hygiene probes). */
  var excludedSetupS = 0.0

  /** Marks the first timed operation; `setup_s` ends here. */
  def markTimedStart(): Unit =
    if (timedStartMs.isNaN) timedStartMs = Main.epochMs()

  def setupSeconds: Double =
    (timedStartMs - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3 - excludedSetupS

  def workDir(name: String): String = {
    val d = Paths.get(opts.work, name).toAbsolutePath
    Main.deleteTree(d.toFile)
    Files.createDirectories(d)
    d.toString
  }
}

object Main {
  final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
      data: String, work: String, out: String, fingerprints: String, record: Boolean,
      rate: Int, corrupt: Boolean)

  /** Short digest of a run's generated inputs (the self-test checks that
    * it follows the seed). */
  def digest(parts: Iterable[Any]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    parts.foreach(p => md.update(p.toString.getBytes("UTF-8")))
    md.digest().take(8).map(b => f"$b%02x").mkString
  }

  def epochMs(): Double = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1e3 + i.getNano / 1e6
  }

  def deleteTree(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  private def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toInt, need("trace") == "1",
      need("data"), need("work"), need("out"), m.getOrElse("fingerprints", ""),
      m.get("record").contains("1"),
      m.get("rate").map(_.toInt).getOrElse(100), m.get("corrupt").contains("1"))
  }

  /** Java processes outside this JVM's ancestor chain (run hygiene). */
  private def foreignJvms(): Seq[Long] = {
    val ancestors = Iterator.iterate(Option(ProcessHandle.current()))(_.flatMap(_.parent().toScala))
      .takeWhile(_.isDefined).map(_.get.pid()).toSet
    ProcessHandle.allProcesses().iterator().asScala
      .filter(_.info().command().toScala.exists(_.contains("java")))
      .map(_.pid()).filterNot(ancestors).toSeq
  }

  def main(args: Array[String]): Unit = {
    val opts = parse(args)
    val cpus = Runtime.getRuntime.availableProcessors()
    val foreignStart = foreignJvms()
    val spark = graft.SparkEntry.applyStaticEngineConfs(SparkSession.builder())
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", Paths.get(opts.work, "warehouse").toAbsolutePath.toString)
      .getOrCreate()
    graft.SparkEntry.applyEngineConfs(spark)
    spark.sparkContext.setLogLevel("ERROR")
    val tracer = new Tracer(spark, opts.trace)
    val ctx = new Ctx(spark, tracer, opts)

    val t0 = System.nanoTime()
    val sentinelStart = graft.Bench.sentinelRuns(spark, 1)
    ctx.excludedSetupS += (System.nanoTime() - t0) / 1e9

    val outcome = opts.workload match {
      case "batch" => Batch.run(ctx)
      case "stream-bnpl" => StreamBnpl.run(ctx)
      case w => sys.error(s"unknown workload $w")
    }

    val sentinelEnd = graft.Bench.sentinelRuns(spark, 1)
    val foreignEnd = foreignJvms()
    val setup = ctx.setupSeconds
    val e2e = outcome.e2e + ("setup_s" -> setup)
    val layerNames = Layers.names
    val layer = layerNames.map(n => n -> outcome.layer.getOrElse(n, 0.0)).toMap +
      ("error_rate" -> outcome.failed.toDouble / outcome.attempted.max(1L))
    val named = outcome.named + ("setup_s" -> (setup, "s")) +
      ("error_rate" -> (outcome.failed.toDouble / outcome.attempted.max(1L), "ratio"))
    val artifact = Map(
      "workload" -> opts.workload, "seed" -> opts.seed, "seconds" -> opts.seconds,
      "trace" -> opts.trace,
      "correct" -> outcome.problems.isEmpty, "attempted" -> outcome.attempted,
      "failed" -> outcome.failed, "problems" -> outcome.problems.take(50),
      "end_to_end" -> e2e, "per_layer" -> (if (opts.trace) layer else Map.empty),
      "named" -> named.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
      "layer_self_s" -> tracer.selfSeconds,
      "hygiene" -> Map(
        "nproc" -> cpus, "master" -> spark.sparkContext.master,
        "default_parallelism" -> spark.sparkContext.defaultParallelism,
        "foreign_jvms_start" -> foreignStart, "foreign_jvms_end" -> foreignEnd,
        "sentinel_start_s" -> sentinelStart, "sentinel_end_s" -> sentinelEnd),
      "detail" -> outcome.detail)
    Files.createDirectories(Paths.get(opts.out).toAbsolutePath.getParent)
    Files.writeString(Paths.get(opts.out), Json.render(artifact))
    if (opts.trace) {
      val stem = opts.out.stripSuffix(".json")
      Files.write(Paths.get(s"$stem.spans.jsonl"), tracer.spansJson.asJava)
      Files.write(Paths.get(s"$stem.progress.jsonl"),
        tracer.progress.asScala.map(_.json).toSeq.asJava)
    }
    tracer.close()
    spark.stop()
  }
}
