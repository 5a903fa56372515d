package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** One timed call into a layer. Spark work submitted from the calling
  * thread while the span is open is counted on it. */
final class Span(val id: Long, val layer: String, val name: String,
    val parent: Long, val req: String, val start: Long) {
  @volatile var end: Long = 0L
  val jobs = new AtomicLong
  val stages = new AtomicLong
  val tasks = new AtomicLong
  def seconds: Double = (end - start) / 1e9
}

/** Engine-wide counters since the tracer was installed. */
final class Counters {
  val stages = new AtomicLong
  val tasks = new AtomicLong
  val shuffleWriteBytes = new AtomicLong
  val spillBytes = new AtomicLong
}

/** Spans around the benchmark's calls into each layer, plus a
  * SparkListener and a StreamingQueryListener that attribute engine work to
  * them. Disabled (every method a pass-through, no listener registered)
  * when the run is not traced. Spans stay in memory until [[spansJson]]. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val SpanKey = "perfbench.span"
  private val origin = System.nanoTime()
  private val nextId = new AtomicLong(1)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val byId = new ConcurrentHashMap[Long, Span]()
  private val current = new ThreadLocal[Span]
  private val stageSpan = new ConcurrentHashMap[Int, Span]()
  private val queryNames = new ConcurrentHashMap[String, String]()

  val total = new Counters
  /** Jobs per streaming query name. */
  val streamJobs = new ConcurrentHashMap[String, AtomicLong]()
  val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()

  def span[T](layer: String, name: String, req: String = "")(body: => T): T = {
    if (!enabled) return body
    val parent = current.get
    val s = new Span(nextId.getAndIncrement(), layer, name,
      if (parent == null) 0L else parent.id,
      if (req.nonEmpty) req else if (parent != null) parent.req else name,
      System.nanoTime())
    spans.add(s); byId.put(s.id, s); current.set(s)
    val sc = spark.sparkContext
    val saved = sc.getLocalProperty(SpanKey)
    sc.setLocalProperty(SpanKey, s.id.toString)
    try body
    finally {
      s.end = System.nanoTime()
      current.set(parent)
      sc.setLocalProperty(SpanKey, saved)
    }
  }

  def spansOf(layer: String): Seq[Span] = spans.asScala.filter(_.layer == layer).toSeq

  /** Per layer: total span seconds minus the part covered by child spans. */
  def selfSeconds: Map[String, Double] = {
    val all = spans.asScala.toSeq.filter(_.end > 0)
    val childTime = all.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.seconds).sum }
    all.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map(s => s.seconds - childTime.getOrElse(s.id, 0.0)).sum
    }
  }

  def spansJson: Seq[String] = spans.asScala.toSeq.filter(_.end > 0).map { s =>
    Json.render(Map(
      "id" -> s.id, "parent" -> s.parent, "req" -> s.req, "layer" -> s.layer,
      "name" -> s.name, "start_ms" -> (s.start - origin) / 1e6, "end_ms" -> (s.end - origin) / 1e6,
      "jobs" -> s.jobs.get, "stages" -> s.stages.get, "tasks" -> s.tasks.get))
  }

  private def spanOf(props: java.util.Properties): Span =
    Option(props).flatMap(p => Option(p.getProperty(SpanKey))).map(id => byId.get(id.toLong)).orNull

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      // streaming query threads inherit the local properties of the thread
      // that started them, so their jobs are attributed by query, not span
      val query = Option(e.properties).flatMap(p => Option(p.getProperty("sql.streaming.queryId")))
      query.flatMap(id => Option(queryNames.get(id)))
        .foreach(n => streamJobs.computeIfAbsent(n, _ => new AtomicLong).incrementAndGet())
      val s = if (query.isDefined) null else spanOf(e.properties)
      if (s != null) {
        s.jobs.incrementAndGet()
        e.stageInfos.foreach(si => stageSpan.put(si.stageId, s))
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      total.stages.incrementAndGet()
      Option(stageSpan.get(e.stageInfo.stageId)).foreach(_.stages.incrementAndGet())
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      total.tasks.incrementAndGet()
      Option(stageSpan.get(e.stageId)).foreach(_.tasks.incrementAndGet())
      val m = e.taskMetrics
      if (m != null) {
        total.shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        total.spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      }
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      queryNames.put(e.id.toString, Option(e.name).getOrElse(e.id.toString))
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.add(e.progress)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  if (enabled) {
    spark.sparkContext.addSparkListener(listener)
    spark.streams.addListener(streamListener)
  }

  def close(): Unit = if (enabled) {
    spark.sparkContext.removeSparkListener(listener)
    spark.streams.removeListener(streamListener)
  }
}

/** JVM-wide readings taken before and after the measured window. */
object JvmGauges {
  def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum / 1e3

  /** Janino compile time so far, estimated as compilations x mean of the
    * sampled compile times (Spark keeps a sampling histogram, not a sum). */
  def codegenSeconds: Double = {
    val h = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    h.getCount * h.getSnapshot.getMean / 1e3
  }
}
