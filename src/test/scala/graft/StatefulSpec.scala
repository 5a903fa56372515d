package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

import graft.streaming.{BillProjection, Envelope, RawEvent}

/** s04 as keyed arbitrary state (BillProjection), run on the RocksDB state
  * store provider (the rocksdbjni jar ships in /opt/spark/jars — this is
  * the provider a real deployment uses so projection state spills off-heap
  * instead of living in executor memory).
  */
class StatefulSpec extends SparkSpec {

  private def ev(id: String, tpe: String, ts: String,
      bill: String = null, promise: String = null, user: String = null,
      amount: java.lang.Long = null, issued: String = null, paid: String = null) =
    RawEvent(id, tpe, Timestamp.valueOf(ts), null, user, amount, promise, bill,
      null, null, issued, paid)

  /** Run `body` on the RocksDB state store provider, restoring the
    * session's provider setting afterwards. */
  private def withRocksDb(body: => Unit): Unit = {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try body
    finally prev match {
      case Some(p) => spark.conf.set(key, p)
      case None => spark.conf.unset(key)
    }
  }

  test("transformWithState variant produces the same projection (Spark 4 API, RocksDB)") {
    withRocksDb {
      implicit val sqlCtx = spark.sqlContext
      import spark.implicits._
      val input = MemoryStream[RawEvent]
      val query = BillProjection.applyTws(input.toDS()).writeStream
        .format("memory")
        .queryName("bills_tws")
        .outputMode(OutputMode.Update)
        .option("checkpointLocation", tmpDir("bills-tws-ckpt"))
        .start()
      try {
        // batch 1: the bill is issued (readme:130-134)
        input.addData(
          ev("e1", Envelope.MemberBillCreated, "2024-03-01 10:00:00",
            bill = "b1", promise = "p1", user = "u1", amount = 4000L, issued = "2024-04-01"))
        query.processAllAvailable()
        val afterInsert = spark.table("bills_tws").collect()
        assert(afterInsert.length == 1)
        assert(afterInsert(0).getAs[String]("status") == "unpaid")
        assert(afterInsert(0).isNullAt(afterInsert(0).fieldIndex("paid_date")))

        // batch 2: payment for an UNKNOWN bill → no state, no output row
        // (UPDATE … WHERE id=? matches nothing, consumer/consumer.go:214-220)
        input.addData(ev("e2", Envelope.PaymentCompleted, "2024-03-01 10:01:00",
          bill = "b-unknown", user = "u1", paid = "2024-04-02"))
        query.processAllAvailable()
        assert(spark.table("bills_tws").collect().length == 1)

        // batch 3: payment for b1 → state flips to paid across batches
        // (state survived in RocksDB between micro-batches)
        input.addData(ev("e3", Envelope.PaymentCompleted, "2024-03-01 10:02:00",
          bill = "b1", user = "u1", paid = "2024-04-02"))
        query.processAllAvailable()
        val rows = spark.table("bills_tws").collect()
          .sortBy(_.getAs[Timestamp]("updated_at").getTime)
        assert(rows.length == 2) // unpaid changelog row, then paid
        assert(rows.head.getAs[String]("status") == "unpaid")
        assert(rows.last.getAs[String]("id") == "b1")
        assert(rows.last.getAs[String]("status") == "paid")
        assert(rows.last.getAs[java.sql.Date]("paid_date").toString == "2024-04-02")
        assert(rows.last.getAs[Long]("amount") == 4000L) // carried, not re-read
      } finally query.stop()
    }
  }

  test("s13: timer fires an overdue alert for an unpaid bill; payment cancels it (RocksDB)") {
    withRocksDb {
      implicit val sqlCtx = spark.sqlContext
      import spark.implicits._
      val input = MemoryStream[RawEvent]
      // With a live processing-time timer the operator reports
      // "needs another batch" every batch, so the engine re-triggers
      // continuously and processAllAvailable can NEVER settle (observed:
      // thousands of empty micro-batches). So: throttle with a real
      // trigger interval, never call processAllAvailable, and POLL the
      // memory sink for the expected rows under a deadline.
      val query = BillProjection.applyTwsReminders(input.toDS(), reminderDelayMs = 1L)
        .writeStream
        .format("memory")
        .queryName("bills_tws_timers")
        .outputMode(OutputMode.Update)
        .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(50L))
        .option("checkpointLocation", tmpDir("bills-tws-timers-ckpt"))
        .start()
      try {
        // b1 is issued and never paid. b2 is issued AND paid in the SAME
        // batch: the fold resolves it straight to 'paid', so no timer is
        // ever registered for it — immune to whichever order the engine
        // evaluates input rows vs expired timers in later batches.
        input.addData(
          ev("e1", Envelope.MemberBillCreated, "2024-03-01 10:00:00",
            bill = "b1", promise = "p1", user = "u1", amount = 4000L, issued = "2024-04-01"),
          ev("e2", Envelope.MemberBillCreated, "2024-03-01 10:00:00",
            bill = "b2", promise = "p2", user = "u2", amount = 2000L, issued = "2024-04-01"),
          ev("e3", Envelope.PaymentCompleted, "2024-03-01 10:01:00",
            bill = "b2", user = "u2", paid = "2024-04-02"))
        val deadline = System.currentTimeMillis() + 60000L
        def sink() = spark.table("bills_tws_timers").collect()
        while (System.currentTimeMillis() < deadline &&
            !sink().exists(_.getAs[String]("status") == "overdue"))
          Thread.sleep(100)
        val rows = sink()
        val overdue = rows.filter(_.getAs[String]("status") == "overdue")
        assert(overdue.map(_.getAs[String]("id")).toSet == Set("b1"))
        // the alert is output-only: b1's stored projection row stays unpaid
        val b1 = rows.filter(r => r.getAs[String]("id") == "b1" &&
          r.getAs[String]("status") != "overdue")
        assert(b1.forall(_.getAs[String]("status") == "unpaid"))
        // b2 resolved to paid within its batch, never alerted
        assert(rows.filter(_.getAs[String]("id") == "b2")
          .map(_.getAs[String]("status")).toSet == Set("paid"))
      } finally query.stop()
    }
  }

  test("s13 event-time timers: replaying the same backlog yields identical alerts (RocksDB)") {
    withRocksDb {
      implicit val sqlCtx = spark.sqlContext
      import spark.implicits._
      // the backlog: b1 issued 10:00 and never paid → deadline 10:01;
      // b2 issued 10:00 and paid 10:00:30 → timer cancelled; b3 issued
      // 10:30 → its 10:31 deadline stays ABOVE the final watermark
      // (10:30), so it must never fire. Replayed twice from scratch, the
      // alert set — including the alert timestamp, which is the
      // event-time deadline itself — must be identical; a processing-time
      // timer would stamp each run's wall clock instead.
      val backlog = Seq(
        ev("e1", Envelope.MemberBillCreated, "2024-03-01 10:00:00",
          bill = "b1", promise = "p1", user = "u1", amount = 4000L, issued = "2024-04-01"),
        ev("e2", Envelope.MemberBillCreated, "2024-03-01 10:00:00",
          bill = "b2", promise = "p2", user = "u2", amount = 2000L, issued = "2024-04-01"),
        ev("e3", Envelope.PaymentCompleted, "2024-03-01 10:00:30",
          bill = "b2", user = "u2", paid = "2024-04-02"),
        ev("e4", Envelope.MemberBillCreated, "2024-03-01 10:30:00",
          bill = "b3", promise = "p3", user = "u3", amount = 1000L, issued = "2024-04-01"))
      def replay(run: String): Set[(String, Timestamp)] = {
        val input = MemoryStream[RawEvent]
        val query = BillProjection.applyTwsRemindersEventTime(input.toDS(), reminderDelayMs = 60000L)
          .writeStream
          .format("memory")
          .queryName(s"bills_evt_$run")
          .outputMode(OutputMode.Update)
          .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(50L))
          .option("checkpointLocation", tmpDir(s"bills-evt-ckpt-$run"))
          .start()
        try {
          input.addData(backlog: _*)
          // the timer batch runs only after the watermark advances at the
          // end of the data batch — poll the sink instead of
          // processAllAvailable (the s13 lesson)
          val deadline = System.currentTimeMillis() + 60000L
          def overdue() = spark.table(s"bills_evt_$run").collect()
            .filter(_.getAs[String]("status") == "overdue")
            .map(r => (r.getAs[String]("id"), r.getAs[Timestamp]("updated_at"))).toSet
          while (System.currentTimeMillis() < deadline && overdue().isEmpty)
            Thread.sleep(100)
          overdue()
        } finally query.stop()
      }
      val run1 = replay("r1")
      val run2 = replay("r2")
      // the alert is the EVENT-TIME deadline: create ts 10:00 + 60 s
      assert(run1 == Set(("b1", Timestamp.valueOf("2024-03-01 10:01:00"))), s"run1 $run1")
      assert(run2 == run1, s"replay diverged: $run2 vs $run1")
    }
  }

  test("fold create arm is INSERT, not upsert: a re-delivered create never regresses a paid bill") {
    // the ADVICE hazard: create(b9) → pay(b9) in batch 1, then the create
    // re-delivered ALONE in a later batch — the fold must keep 'paid'
    // (reference semantics: duplicate-PK INSERT is a no-op), so the
    // reminder processor's enters-unpaid guard can never re-arm a timer
    val create = ev("e1", Envelope.MemberBillCreated, "2024-03-01 10:00:00",
      bill = "b9", promise = "p9", user = "u9", amount = 100L, issued = "2024-04-01")
    val paid = BillProjection.fold(null, Iterator(create,
      ev("e2", Envelope.PaymentCompleted, "2024-03-01 10:01:00", bill = "b9", paid = "2024-04-02")))
    val out = BillProjection.fold(paid, Iterator(create))
    assert(out.status == "paid", s"re-delivered create regressed the bill: $out")
    assert(out.paid_date.toString == "2024-04-02")
  }

  test("same-batch create+pay resolves in (ts, event_id) order") {
    val out = BillProjection.fold(null, Iterator(
      ev("e2", Envelope.PaymentCompleted, "2024-03-01 10:01:00", bill = "b9", paid = "2024-04-02"),
      ev("e1", Envelope.MemberBillCreated, "2024-03-01 10:00:00",
        bill = "b9", promise = "p9", user = "u9", amount = 100L, issued = "2024-04-01")))
    assert(out != null)
    assert(out.status == "paid") // create applied before the later payment
  }
}
