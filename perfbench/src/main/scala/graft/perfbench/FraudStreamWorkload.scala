package graft.perfbench

import java.sql.Timestamp
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import java.util.concurrent.locks.LockSupport

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress, Trigger}

import graft.streaming.FraudDetection
import graft.streaming.FraudDetection.CallPing
import graft.telecom.Schemas.FraudAlert

/** Seeded call-ping source. Event i's customer and tower depend only
  * on (seed, i); its event time is the wall time it falls due, so the
  * stream's watermark runs on real time.
  *
  * Out of every 1000 events: 30 go to one fresh "burst" customer
  * (events 26..30 of the burst trip the 25-calls-in-30-minutes
  * velocity rule: 5 alerts), 5 start an impossible-travel pair whose
  * second leg, 1.2 s later and ~3,900 km away, trips the travel rule
  * (5 alerts), and the rest cycle through a seeded shuffle of the
  * customer pool in which a hot fifth of the customers appears twice.
  * A pool customer calls from one home tower and, below 25 cycles per
  * run, never reaches the velocity threshold. So about 1% of events
  * alert. */
final class PingSource(seed: Long, poolSize: Int) {
  private val cycle: Array[Int] = {
    val hot = 0 until poolSize / 5
    new scala.util.Random(seed).shuffle((hot ++ hot ++ (poolSize / 5 until poolSize)).toVector).toArray
  }
  private var i = 0L
  private var pos = 0
  private val legs = scala.collection.mutable.Queue.empty[(Long, String)]

  /** `n` events due at `dueMs`, after the travel second legs now due. */
  def next(n: Int, dueMs: Long): Seq[CallPing] = {
    val ts = new Timestamp(dueMs)
    val out = ArrayBuffer.empty[CallPing]
    def id() = { val e = f"e$seed%d-$i%09d"; i += 1; e }
    while (legs.nonEmpty && legs.head._1 <= dueMs)
      out += CallPing(legs.dequeue()._2, id(), ts, 34.05, -118.24, "TLAX")
    (0 until n).foreach { _ =>
      val block = i / 1000
      val slot = (i % 1000).toInt
      out += {
        if (slot < 300 && slot % 10 == 0) CallPing(s"B$seed-$block", id(), ts, 41.88, -87.63, "TCHI")
        else if (slot >= 500 && slot < 505) {
          val cust = s"T$seed-$block-$slot"
          legs.enqueue((dueMs + 1200, cust))
          CallPing(cust, id(), ts, 40.71, -74.0, "TNYC")
        } else {
          val c = cycle(pos)
          pos = (pos + 1) % cycle.length
          CallPing(s"C$seed-$c", id(), ts, 25.0 + (c % 23) * 0.9, -120.0 + (c % 47) * 1.1, s"TW${c % 97}")
        }
      }
    }
    out.toSeq
  }
}

/** FraudDetection.detectStream over a MemoryStream fed open-loop from
  * the driver thread (the stream runs on its own): events fall due at
  * a fixed rate whether or not the stream keeps up. The query runs on
  * a fixed processing-time trigger, so a micro-batch slowed by the
  * host does not make the next one larger. A ladder of rates runs back
  * to back after an untimed warm-up: the first rate measures alert
  * latency (due time of the triggering event → the alert reaching this
  * sink), the last, offered above what the engine can take, measures
  * throughput (events committed per second from the rung's start until
  * the backlog is gone). The alerts must equal
  * FraudDetection.detectBatch over the same events. */
object FraudStreamWorkload extends Workload {
  private val TickMs = 5L

  def run(ctx: Ctx, res: Result): Double = {
    val spark = ctx.spark
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val rates = ctx.param("rates").split(",").map(_.toInt).toSeq
    val warmS = ctx.param("warmup_s").toDouble
    // each rate's share of the run time: the latency rung takes most,
    // the faster ones only have to show whether the backlog drains
    val shares = ctx.param("rung_shares").split(",").map(_.toDouble).toSeq
    require(shares.size == rates.size, "one rung share per rate")
    val rungS = shares.map(_ * ctx.seconds)
    val source = new PingSource(ctx.seed, ctx.param("customers").toInt)
    // one partition per core, as a topic with that many partitions
    // would give (by default every addData would become a partition)
    val mem = MemoryStream[CallPing](ctx.cores)
    val created = ArrayBuffer.empty[CallPing]
    val committed = new AtomicLong(0)
    val batches = new ConcurrentLinkedQueue[StreamingQueryProgress]()
    // (batch id, alert id, due ms of its event, wall ms it reached the
    // sink, read off the monotonic clock for sub-millisecond precision)
    val alerts = new ConcurrentLinkedQueue[(Long, String, Long, Double)]()
    val wallMs0 = System.currentTimeMillis()
    val nano0 = System.nanoTime()
    def wallMs: Double = wallMs0 + (System.nanoTime() - nano0) / 1e6

    val listener = new StreamingQueryListener {
      def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        committed.addAndGet(e.progress.numInputRows)
        batches.add(e.progress)
      }
    }
    spark.streams.addListener(listener)
    val sink = (ds: Dataset[FraudAlert], id: Long) => {
      val rows = ds.select("alert_id", "event_ts").collect()
      val now = wallMs
      rows.foreach(r => alerts.add((id, r.getString(0), r.getTimestamp(1).getTime, now)))
    }
    val query = ctx.layer("stream.detectStream") {
      FraudDetection.detectStream(mem.toDS()).writeStream
        .trigger(Trigger.ProcessingTime(ctx.param("trigger_ms").toLong))
        .foreachBatch(sink)
        .option("checkpointLocation", s"${ctx.workDir}/checkpoints/fraud")
        .start()
    }

    var lateMaxMs = 0L
    /** Feeds `rate` events/s for `seconds`; returns the rung's bounds. */
    def rung(rate: Int, seconds: Double): (Long, Long) = {
      val start = System.currentTimeMillis()
      val end = start + (seconds * 1000).toLong
      var due = start
      var owed = 0.0
      while (due < end) {
        owed += rate * TickMs / 1000.0
        val n = owed.toInt
        owed -= n
        val evs = source.next(n, due)
        if (evs.nonEmpty) { mem.addData(evs); created ++= evs }
        lateMaxMs = math.max(lateMaxMs, System.currentTimeMillis() - due)
        due += TickMs
        val waitMs = due - System.currentTimeMillis()
        if (waitMs > 0) LockSupport.parkNanos(waitMs * 1000000L)
      }
      (start, end)
    }
    def backlog = created.size - committed.get
    def drain(timeoutS: Double): Long = {
      val deadline = System.nanoTime() + (timeoutS * 1e9).toLong
      while (backlog > 0 && System.nanoTime() < deadline) Thread.sleep(2)
      System.currentTimeMillis()
    }

    try {
      rung(rates.head, warmS)
      drain(30)
      val t0 = System.nanoTime()
      val warmAlerts = alerts.size
      val warmBatches = batches.size
      lateMaxMs = 0L
      var committedBeforeTop = 0L
      val rungs = rates.zip(rungS).map { case (r, s) =>
        committedBeforeTop = committed.get
        rung(r, s)
      }
      val backlogEnd = backlog
      val topStart = rungs.last._1
      val doneMs = drain(60)
      val wall = (System.nanoTime() - t0) / 1e9
      res.ops = 1
      res.engine = ctx.engineCounters()
      Heap.collect()
      val missing = backlog
      res.attempted += created.size
      if (missing > 0) res.fail(s"$missing events never reached a committed batch")

      // alert latency over the first rung
      val (lo, hi) = rungs.head
      val lat = alerts.asScala.toSeq.filter(a => a._3 >= lo && a._3 < hi)
      val latMs = lat.map(a => a._4 - a._3)
      res.endToEnd("latency_ms") = (Stats.median(latMs), "ms")
      Main.note("alert latency by batch: " + lat.groupBy(_._1).toSeq.sortBy(_._1)
        .map { case (b, as) => f"$b:${Stats.median(as.map(a => a._4 - a._3))}%.0f" }.mkString(" "))
      val topEvents = created.size - committedBeforeTop
      res.endToEnd("throughput_per_s") = (topEvents * 1000.0 / math.max(1L, doneMs - topStart), "1/s")
      Main.note("batches (rows/trigger ms/addBatch ms/state rows): " + batches.asScala.toSeq.map(b =>
        s"${b.numInputRows}/${b.durationMs.get("triggerExecution")}/${b.durationMs.get("addBatch")}/${b.stateOperators.headOption.map(_.numRowsTotal).getOrElse(0L)}").mkString(" "))
      Main.note(f"top rung: $topEvents events in ${doneMs - topStart} ms, backlog at its end $backlogEnd")

      // check outside the timed rungs: the batch twin over every event
      query.stop()
      val expected = FraudDetection.detectBatch(created.toSeq.toDF())
        .select("alert_id").as[String].collect().toSet
      val got = alerts.asScala.map(_._2).toSeq
      val dup = got.size - got.distinct.size
      val wrong = (expected -- got) ++ (got.toSet -- expected)
      res.attempted += expected.size
      if (dup > 0) res.fail(s"$dup alerts emitted twice")
      if (wrong.nonEmpty) res.fail(s"${wrong.size} alerts differ from detectBatch, e.g. ${wrong.take(3)}")
      res.outputs("stream.alerts") = got.size.toString
      res.outputs("stream.events") = created.size.toString

      if (ctx.traced) {
        val bs = batches.asScala.toSeq.drop(warmBatches)
        def p50(k: String) = Stats.median(bs.map(b => Option(b.durationMs.get(k)).map(_.toDouble).getOrElse(0.0)))
        val L = res.perLayer
        L("stream.add_batch_ms_p50") = (p50("addBatch"), "ms")
        L("stream.wal_commit_ms_p50") = (p50("walCommit"), "ms")
        L("stream.commit_offsets_ms_p50") = (p50("commitOffsets"), "ms")
        L("stream.query_planning_ms_p50") = (p50("queryPlanning"), "ms")
        L("stream.latest_offset_ms_p50") = (p50("latestOffset"), "ms")
        L("stream.trigger_ms_p50") = (p50("triggerExecution"), "ms")
        L("stream.batches") = (bs.size.toDouble, "count")
        L("stream.rows_per_batch_p50") = (Stats.median(bs.map(_.numInputRows.toDouble)), "count")
        val states = bs.flatMap(_.stateOperators.headOption)
        L("stream.state_rows") = (states.lastOption.map(_.numRowsTotal.toDouble).getOrElse(0.0), "count")
        L("stream.state_bytes") = (states.lastOption.map(_.memoryUsedBytes.toDouble).getOrElse(0.0), "bytes")
        L("stream.state_commit_ms_p50") =
          (if (states.isEmpty) 0.0 else Stats.median(states.map(_.commitTimeMs.toDouble)), "ms")
        // the backlog stops growing once the offered rate is within
        // what the stream commits per second
        val capacity = res.endToEnd("throughput_per_s")._1
        L("stream.sustained_rate_per_s") = (rates.filter(_ <= capacity).maxOption.getOrElse(0).toDouble, "1/s")
        L("stream.backlog_events_end") = (backlogEnd.toDouble, "count")
        L("stream.generator_late_ms_max") = (lateMaxMs.toDouble, "ms")
        L("stream.alerts") = ((alerts.size - warmAlerts).toDouble, "count")
        L("stream.events") = (created.size.toDouble, "count")
        // alerts of one micro-batch share a sink time: no percentile
        // above the median has ten batches beyond it in a run this short
        L("stream.alert_batches") = (lat.map(_._1).distinct.size.toDouble, "count")
      }
      wall
    } finally {
      if (query.isActive) query.stop()
      spark.streams.removeListener(listener)
    }
  }
}
