package perfbench

import java.nio.file.{Files, Path, Paths}
import java.time.{Instant, LocalDate, ZoneOffset}
import java.util.concurrent.TimeUnit
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.streaming.{BnplPipeline, Envelope}

/** The reference's own flow: BnplPipeline's five streaming queries over
  * the checkpointed JSON file source. An open-loop generator writes one
  * file per [[TickMs]] at `--rate` events/s (default 100) (purchases, bills for earlier
  * promises, payments for earlier bills, re-delivered duplicates); a
  * closed-loop reader meanwhile issues back-to-back `memberBills(u)` +
  * `paymentPromises(u)` point reads. After a final drain, per-event
  * visibility latency is read off the queries' checkpoint logs (which
  * files each batch read, and when the batch committed), and the
  * projections are checked against the generator's ground truth. */
object StreamBnpl {
  val TickMs = 100L
  val Users = 200
  /** Attempts per point-read pair; a read that races a projection rewrite
    * is retried and counted in `pipeline.read_errors`. */
  val ReadAttempts = 5

  final case class Ev(id: String, kind: String, json: String, stampMs: Double, fresh: Boolean)

  /** Seeded event stream; every event of tick k carries ts = due time of k. */
  final class Generator(prefix: String, seed: Long, eventsDir: String, startMs: Long, rate: Int) {
    private val rng = new scala.util.Random(seed)
    private var n = 0L
    val purchases = mutable.ArrayBuffer.empty[(String, String, Long)] // event id, user, amount
    private val unbilled = mutable.Queue.empty[(String, String, Long, Long)] // + tick
    val bills = mutable.LinkedHashMap.empty[String, String] // bill id -> user
    private val unpaid = mutable.ArrayBuffer.empty[(String, String, Long, Long)]
    val paid = mutable.Set.empty[String]
    private val recent = mutable.Queue.empty[Ev]
    val files = mutable.LinkedHashMap.empty[String, Seq[Ev]] // file name -> events
    val fileWrittenMs = mutable.Map.empty[String, Double]
    var lateMsMax = 0.0

    private def iso(ms: Long) = Instant.ofEpochMilli(ms).toString
    private def date(ms: Long) = LocalDate.ofInstant(Instant.ofEpochMilli(ms), ZoneOffset.UTC).toString

    private def event(tick: Long, dueMs: Long): Ev = {
      n += 1
      val id = s"e$seed-$n"
      val base = s""""event_id":"$id","ts":"${iso(dueMs)}""""
      val r = rng.nextDouble()
      val billable = unbilled.headOption.exists(_._4 < tick)
      val payable = unpaid.nonEmpty && unpaid.head._4 < tick
      if (r < 0.05 && recent.nonEmpty) {
        val d = recent(rng.nextInt(recent.size)); n -= 1
        d.copy(fresh = false, stampMs = dueMs.toDouble)
      } else if (r < 0.35 && billable) {
        val (pid, user, amount, _) = unbilled.dequeue()
        val bill = s"b-$id"
        bills(bill) = user
        unpaid += ((bill, user, amount, tick))
        Ev(id, Envelope.MemberBillCreated, s"""{$base,"event_type":"${Envelope.MemberBillCreated}","bill_id":"$bill","promise_id":"p-$pid","user_id":"$user","amount":$amount,"issued_date":"${date(dueMs)}"}""", dueMs, fresh = true)
      } else if (r < 0.55 && payable) {
        val (bill, user, amount, _) = unpaid.remove(rng.nextInt(unpaid.count(_._4 < tick)))
        paid += bill
        Ev(id, Envelope.PaymentCompleted, s"""{$base,"event_type":"${Envelope.PaymentCompleted}","bill_id":"$bill","user_id":"$user","amount":$amount,"paid_date":"${date(dueMs)}"}""", dueMs, fresh = true)
      } else {
        val user = s"u-${rng.nextInt(Users)}"
        val amount = 1000L + rng.nextInt(49000)
        purchases += ((id, user, amount))
        unbilled.enqueue((id, user, amount, tick))
        Ev(id, Envelope.PurchaseCompleted, s"""{$base,"event_type":"${Envelope.PurchaseCompleted}","order_id":"o-$id","user_id":"$user","amount":$amount}""", dueMs, fresh = true)
      }
    }

    /** Writes tick k's file (hidden name first, then an atomic rename). */
    def writeTick(k: Long): Unit = {
      val dueMs = startMs + k * TickMs
      val evs = (0 until (rate * TickMs / 1000).toInt).map(_ => event(k, dueMs))
      evs.filter(_.fresh).foreach { e => recent.enqueue(e); if (recent.size > 200) recent.dequeue() }
      val name = f"$prefix-$k%06d.json"
      val tmp = Paths.get(eventsDir, s".$name")
      Files.writeString(tmp, evs.map(_.json).mkString("", "\n", "\n"))
      Files.move(tmp, Paths.get(eventsDir, name), java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      val now = Main.epochMs()
      lateMsMax = lateMsMax.max(now - dueMs)
      files(name) = evs
      fileWrittenMs(name) = now
    }
  }

  /** One streaming query's checkpoint: which batch first read each input
    * file, and when each batch committed (epoch ms). */
  final class Checkpoint(dir: String) {
    private val pathField = "\"path\":\"([^\"]+)\"".r
    private val batchField = "\"batchId\":(\\d+)".r
    val fileBatch: Map[String, Long] = {
      val src = Paths.get(dir, "sources", "0")
      val entries = if (!Files.isDirectory(src)) Nil else
        Files.list(src).iterator().asScala.filterNot(_.getFileName.toString.startsWith(".")).toList
          .flatMap(p => Files.readAllLines(p).asScala)
          .flatMap(l => for (p <- pathField.findFirstMatchIn(l); b <- batchField.findFirstMatchIn(l))
            yield Paths.get(java.net.URI.create(p.group(1))).getFileName.toString -> b.group(1).toLong)
      entries.groupBy(_._1).map { case (f, bs) => f -> bs.map(_._2).min }
    }
    val commitMs: Map[Long, Double] = {
      val c = Paths.get(dir, "commits")
      if (!Files.isDirectory(c)) Map.empty else
        Files.list(c).iterator().asScala.map(_.getFileName.toString).filter(_.forall(_.isDigit)).map { b =>
          b.toLong -> Files.getLastModifiedTime(Paths.get(dir, "commits", b)).to(TimeUnit.MICROSECONDS) / 1e3
        }.toMap
    }
    /** Trigger time of each batch (`batchTimestampMs` in its offset log). */
    val startMs: Map[Long, Double] = {
      val o = Paths.get(dir, "offsets")
      val ts = "\"batchTimestampMs\":(\\d+)".r
      if (!Files.isDirectory(o)) Map.empty else
        Files.list(o).iterator().asScala.map(_.getFileName.toString).filter(_.forall(_.isDigit)).flatMap { b =>
          ts.findFirstMatchIn(Files.readString(Paths.get(dir, "offsets", b))).map(m => b.toLong -> m.group(1).toDouble)
        }.toMap
    }
    def visibleMs(file: String): Option[Double] = fileBatch.get(file).flatMap(commitMs.get)
  }

  private def dirMb(p: Path): Double =
    if (!Files.exists(p)) 0.0
    else Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum / 1e6

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val t = ctx.tracer
    val root = ctx.workDir("bnpl")
    val eventsDir = Files.createDirectories(Paths.get(root, "events")).toString
    val stateDir = Paths.get(root, "state").toString
    val pipeline = new BnplPipeline(spark, eventsDir, stateDir)
    val problems = Seq.newBuilder[String]

    // warm-up: 30 ticks of the event mix through all five queries
    val warm = new Generator("warm", -1L, eventsDir, System.currentTimeMillis() - 60000L, 100)
    (0L until 30L).foreach(warm.writeTick)
    val queries = t.span("pipeline", "start")(pipeline.start())
    t.span("pipeline", "drain")(pipeline.drain())

    val startMs = ((Main.epochMs() / TickMs).toLong + 5) * TickMs
    val gen = new Generator("gen", ctx.opts.seed, eventsDir, startMs, ctx.opts.rate)
    val ticks = ctx.opts.seconds * 1000L / TickMs
    val stop = new AtomicBoolean(false)
    val readErrors = new AtomicLong
    val reads = new java.util.concurrent.ConcurrentLinkedQueue[Double]()
    val failedReads = new AtomicLong
    val readerRng = new scala.util.Random(ctx.opts.seed * 31 + 7)

    val generator = new Thread(() => {
      var k = 0L
      while (k < ticks) {
        val wait = startMs + k * TickMs - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
        gen.writeTick(k)
        k += 1
      }
    }, "perfbench-generator")
    val reader = new Thread(() => {
      while (!stop.get) {
        val user = s"u-${readerRng.nextInt(Users)}"
        val t0 = System.nanoTime()
        var ok = false
        var attempt = 0
        while (!ok && attempt < ReadAttempts) {
          attempt += 1
          try {
            t.span("pipeline", "read", user) {
              pipeline.memberBills(user).collect()
              pipeline.paymentPromises(user).collect()
            }
            ok = true
          } catch { case _: Throwable => readErrors.incrementAndGet() }
        }
        if (ok) reads.add((System.nanoTime() - t0) / 1e9) else failedReads.incrementAndGet()
      }
    }, "perfbench-reader")

    while (System.currentTimeMillis() < startMs) Thread.sleep(1)
    ctx.markTimedStart()
    val engine = new Layers.EngineWindow(t)
    generator.start(); reader.start()
    generator.join()
    val windowEndMs = Main.epochMs()
    stop.set(true); reader.join()
    val engineMetrics = engine.metrics
    t.span("pipeline", "drain")(pipeline.drain())
    val drainedMs = Main.epochMs()
    pipeline.stop()
    queries.foreach(_.awaitTermination(10000L))

    // latency from the checkpoint logs, outside every timer
    val ck = Layers.PipelineQueries.map { case (short, _) =>
      short -> new Checkpoint(Paths.get(stateDir, "_checkpoints", short).toString)
    }.toMap
    val derivedFiles = Files.list(Paths.get(eventsDir)).iterator().asScala
      .map(_.getFileName.toString).filter(f => f.startsWith("part-") && f.endsWith(".json")).toList
    val promiseId = "\"event_id\":\"promise:([^\"]+)\"".r
    val derivedFileOf: Map[String, String] = derivedFiles.flatMap { f =>
      Files.readAllLines(Paths.get(eventsDir, f)).asScala.flatMap(l => promiseId.findFirstMatchIn(l).map(_.group(1) -> f))
    }.toMap
    val genEvents = gen.files.toSeq.flatMap { case (f, evs) => evs.filter(_.fresh).map(f -> _) }
    val billVis = genEvents.filter { case (_, e) => e.kind == Envelope.MemberBillCreated || e.kind == Envelope.PaymentCompleted }
      .map { case (f, e) => (e.stampMs, ck("bills").visibleMs(f)) }
    val promiseVis = genEvents.filter(_._2.kind == Envelope.PurchaseCompleted)
      .map { case (_, e) => (e.stampMs, derivedFileOf.get(e.id).flatMap(ck("promises").visibleMs)) }
    val invisible = (billVis ++ promiseVis).count(_._2.isEmpty)
    if (invisible > 0) problems += s"$invisible events never became visible in their projection " +
      s"(${billVis.count(_._2.isEmpty)} bill/payment, ${promiseVis.count(_._2.isEmpty)} promise)"
    def latencies(vis: Seq[(Double, Option[Double])]) = vis.flatMap { case (s, v) => v.map(x => (x - s) / 1e3) }
    val billS = latencies(billVis)
    val promiseS = latencies(promiseVis)
    val totalS = ((billVis ++ promiseVis).flatMap(_._2).maxOption.getOrElse(drainedMs) - startMs) / 1e3

    // events_log throughput: the generator's new events over the time from
    // the first tick to the log commit that holds the last of them (a
    // window-end cut would count one log batch more or less at random)
    val newPerFile: Map[String, Int] = gen.files.map { case (f, evs) => f -> evs.count(_.fresh) }.toMap ++
      derivedFileOf.values.groupBy(identity).map { case (f, ids) => f -> ids.size }
    // end to end: events that reached their projection (bills or
    // promises) per second, from the first tick to the last visibility
    val projectedPerS = (billS.size + promiseS.size) / totalS
    val genLogged = gen.files.keys.toSeq.flatMap(f => ck("log").visibleMs(f).map(_ -> newPerFile(f)))
    val eventsPerS = genLogged.map(_._2).sum / ((genLogged.map(_._1).maxOption.getOrElse(drainedMs) - startMs) / 1e3)

    // ground truth after the drain
    def check(what: String)(ok: => Boolean): Int =
      try { if (ok) 0 else { problems += s"ground truth mismatch: $what"; 1 } }
      catch { case e: Throwable => problems += s"$what: ${e.getMessage}"; 1 }
    // --corrupt 1 (self-test): a purchase the pipeline never saw must fail the check
    val truthPurchases = warm.purchases ++ gen.purchases ++
      (if (ctx.opts.corrupt) Seq(("phantom", "u-0", 1L)) else Nil)
    val truthBills = warm.bills ++ gen.bills
    val truthPaid = warm.paid ++ gen.paid
    val freshIds = (warm.files.values ++ gen.files.values).flatten.filter(_.fresh).map(_.id).toSet
    val logIds = pipeline.eventsLog.select(col("event_id")).collect().map(_.getString(0)).toSeq
    val promiseRows = spark.read.parquet(pipeline.promisesDir).select(col("id")).collect().map(_.getString(0)).toSeq
    val billRows = spark.read.parquet(pipeline.billsDir).select(col("id"), col("status")).collect()
      .map(r => r.getString(0) -> r.getString(1)).toSeq
    val wantLog = freshIds ++ truthPurchases.map("promise:" + _._1)
    val mismatches =
      check(s"events_log holds each event_id once: ${logIds.size} rows, ${logIds.distinct.size} ids, " +
        s"${wantLog.size} expected, ${(wantLog -- logIds).size} missing")(
        logIds.size == logIds.distinct.size && logIds.toSet == wantLog) +
      check(s"one payment promise per purchase: ${promiseRows.size} rows for ${truthPurchases.size} purchases")(
        promiseRows.size == truthPurchases.size && promiseRows.toSet == truthPurchases.map("p-" + _._1).toSet) +
      check(s"bills: ${billRows.size} rows for ${truthBills.size} bills")(
        billRows.size == truthBills.size && billRows.map(_._1).toSet == truthBills.keySet) +
      check("bill paid status")(billRows.forall { case (id, st) => (st == "paid") == truthPaid(id) })

    val readTimes = reads.asScala.toSeq
    val delivered = (warm.files.values ++ gen.files.values).map(_.size).sum + derivedFileOf.size
    val layer = if (!t.enabled) Map.empty[String, Double] else {
      val progress = t.progress.asScala.toSeq
      val perQuery = Layers.PipelineQueries.flatMap { case (short, name) =>
        val ps = progress.filter { p =>
          val at = Instant.parse(p.timestamp).toEpochMilli
          p.name == name && at >= startMs && at <= windowEndMs
        }
        def dur(k: String) = Layers.median(ps.flatMap(p => Option(p.durationMs.get(k)).map(_.toDouble)))
        val commit = Layers.median(ps.map(p => Seq("walCommit", "commitOffsets")
          .flatMap(k => Option(p.durationMs.get(k)).map(_.toDouble)).sum))
        val onDisk = newPerFile.keySet.filter(f => gen.fileWrittenMs.get(f).forall(_ <= windowEndMs))
        val backlog = onDisk.count(f => ck(short).visibleMs(f).forall(_ > windowEndMs))
        Seq(s"pipeline.$short.batches" -> ps.map(_.batchId).distinct.size.toDouble,
          s"pipeline.$short.trigger_p50_ms" -> dur("triggerExecution"),
          s"pipeline.$short.add_batch_ms" -> dur("addBatch"),
          s"pipeline.$short.get_batch_ms" -> dur("getBatch"),
          s"pipeline.$short.commit_ms" -> commit,
          s"pipeline.$short.empty_batch_share" -> ps.count(_.numInputRows == 0).toDouble / ps.size.max(1),
          s"pipeline.$short.backlog_end" -> backlog.toDouble)
      }
      val billsState = progress.filter(_.name == "bnpl_member_bills").lastOption
        .flatMap(_.stateOperators.headOption)
      engineMetrics ++ perQuery ++ Map(
        "pipeline.promise_visible_p50_s" -> Layers.percentile(promiseS, 0.5),
        "pipeline.promise_visible_p99_s" -> Layers.percentile(promiseS, 0.99),
        "pipeline.bills.state_rows" -> billsState.map(_.numRowsTotal.toDouble).getOrElse(0.0),
        "pipeline.bills.state_mb" -> billsState.map(_.memoryUsedBytes / 1e6).getOrElse(0.0),
        "pipeline.checkpoint_mb" -> dirMb(Paths.get(stateDir, "_checkpoints")),
        "pipeline.promise_files" -> Files.list(Paths.get(pipeline.promisesDir)).iterator().asScala
          .count(_.getFileName.toString.endsWith(".parquet")).toDouble,
        "pipeline.dup_dropped_share" -> (delivered - logIds.size).toDouble / delivered.max(1),
        "pipeline.read_errors" -> readErrors.get.toDouble,
        "generator.late_ms_max" -> gen.lateMsMax)
    }
    val attempted = genEvents.size + readTimes.size + failedReads.get + 4
    Outcome(attempted, invisible + failedReads.get + mismatches, problems.result(),
      e2e = Map("total_s" -> totalS, "op_p50_s" -> Layers.percentile(billS, 0.5),
        "op_tail_s" -> Layers.percentile(billS, 0.9), "ops_per_s" -> projectedPerS),
      named = Map(
        "bill_visible_p50_s" -> (Layers.percentile(billS, 0.5), "s"),
        "bill_visible_p90_s" -> (Layers.percentile(billS, 0.9), "s"),
        "bill_visible_p99_s" -> (Layers.percentile(billS, 0.99), "s"),
        "promise_visible_p50_s" -> (Layers.percentile(promiseS, 0.5), "s"),
        "promise_visible_p99_s" -> (Layers.percentile(promiseS, 0.99), "s"),
        "events_per_s" -> (eventsPerS, "1/s"),
        "projected_events_per_s" -> (projectedPerS, "1/s"),
        "read_p50_s" -> (Layers.percentile(readTimes, 0.5), "s"),
        "read_p90_s" -> (Layers.percentile(readTimes, 0.9), "s"),
        "read_samples" -> (readTimes.size.toDouble, "count"),
        "read_errors" -> (readErrors.get.toDouble, "count"),
        "bill_samples" -> (billS.size.toDouble, "count"),
        "promise_samples" -> (promiseS.size.toDouble, "count"),
        "generator_late_ms_max" -> (gen.lateMsMax, "ms")),
      layer = layer,
      detail = Map(
        "bill_visible_p50_by_second" -> billVis.filter(_._2.nonEmpty).groupBy(v => ((v._1 - startMs) / 1000).toInt)
          .toSeq.sortBy(_._1).map { case (sec, vs) => Layers.median(latencies(vs)) },
        "bills_commits_ms" -> ck("bills").commitMs.values.toSeq.sorted.map(_ - startMs),
        "batches_ms" -> ck.map { case (q, c) => q -> c.startMs.toSeq.sortBy(_._1).flatMap { case (b, st) =>
          c.commitMs.get(b).map(end => Seq(st - startMs, end - st)) } },
        "stream_jobs" -> t.streamJobs.asScala.map { case (q, n) => q -> n.get },
        "inputs_digest" -> Main.digest(gen.files.values.flatten.map(_.json)), "window_ms" -> (windowEndMs - startMs), "drain_ms" -> (drainedMs - windowEndMs),
        "offered_events" -> genEvents.size, "purchases" -> gen.purchases.size,
        "bills" -> gen.bills.size, "payments" -> gen.paid.size))
  }
}
