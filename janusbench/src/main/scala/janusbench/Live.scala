package janusbench

import graft.api.JanusApi
import graft.core.RdfEvent
import graft.janusql.JanusQLParser
import graft.sparql.SparqlCompiler
import graft.storage.EventLog
import graft.streaming.LiveStreamProcessing

import org.apache.spark.sql.SparkSession

import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** `live`: a live-only ON STREAM query under an open loop. Micro-batches
  * go out on a fixed 200 ms schedule through `QueryHandle.addLiveEvents`,
  * first at a reference rate (result latency), then on an overload rung
  * that offers more than the engine can take (ingest capacity).
  * RANGE 1 s / STEP 200 ms, so every batch closes one window; sensor keys
  * are Zipf-skewed and 5 % of events arrive two batches late. Exercises
  * the window engine, its per-fire compile and the API poller; never
  * touches EventLog.
  *
  * End-to-end metrics: answer = creation stamp of the newest event in a
  * window → its result's `receive`, timed from the due time, at the
  * reference rate; throughput = events per wall-clock second of the
  * overload rung's send cycles, where the generator waits on nothing but
  * the `addLiveEvents` call (it runs the fire on the caller's thread).
  * That call is the traced run's `streaming.fire_s` (reference rate) and
  * `streaming.saturated_fire_s` (overload rung).
  */
object Live {

  /** Chosen, not taken from a source: STEP = the batch interval, so
    * every batch closes exactly one window and there are 5 fires a
    * second; RANGE = 5 steps, so every event counts in 5 fires. */
  val RangeMs = 1000L
  val StepMs = 200L
  val BatchMs = 200L
  val Sensors = 100
  /** YCSB's default Zipfian constant. */
  val ZipfS = 0.99
  /** Chosen: a small share, held back two batches so that it lands
    * after the fire that first covers it. */
  val LateShare = 0.05
  /** The live rate the engine's firing cost was sized at (200 ev/s over
    * 100 sensors), the same rate the hybrid workload runs at. */
  val ReferenceRate = 200
  /** Offered on the overload rung: well above the 19–29k ev/s the
    * engine takes on a 4-core machine, so the rung measures capacity,
    * not the offered rate. */
  val OverloadRate = 40000
  /** Share of the run spent at the reference rate; the overload rung
    * gets the rest. */
  val ReferenceShare = 0.3
  /** The reference rung keeps up when it sends every batch, no batch of
    * its second half (the window is full by then) goes out more than one
    * batch interval late, and results waiting in the live engine stay
    * under [[MaxPending]]. A rung that falls behind is cut off
    * [[OverrunS]] after its last due time. */
  val MaxLagS = 0.2
  val MaxPending = 64
  val OverrunS = 2.0
  val SetupRounds = 3
  val SetupBatches = 10

  val Stream = Gen.SensorStream

  val Text: String =
    s"""PREFIX ex: <${Gen.Ex}>
       |REGISTER RStream ex:out AS
       |SELECT (COUNT(?v) AS ?n) (SUM(?v) AS ?sum) (MAX(?v) AS ?max)
       |FROM NAMED WINDOW ex:w ON STREAM ex:sensorStream [RANGE $RangeMs STEP $StepMs]
       |WHERE { WINDOW ex:w { ?s ex:temperature ?v } }""".stripMargin

  /** One delivered batch, as sent. */
  final case class Sent(k: Long, events: Seq[Gen.Event],
      dueNs: Long, startNs: Long, endNs: Long, fires: Seq[Expected.Fire],
      traced: Boolean) {
    def lagS: Double = (startNs - dueNs) / 1e9
  }

  /** Feeds one started query: batch k carries the events of interval k
    * plus the late ones held back from k − 2, and is due at the end of
    * interval k. Mirrors every delivery into the expected-answer model. */
  final class Feeder(seed: Long, handle: JanusApi#QueryHandle,
      model: Expected.LiveModel, t0Ns: Long, tracer: Option[Tracer]) {
    private val zipf = new Gen.Zipf(Sensors, ZipfS)
    private val held = mutable.Map.empty[Long, mutable.ArrayBuffer[Gen.Event]]
    val sent = mutable.ArrayBuffer.empty[Sent]
    private var k = 0L

    def dueNs(k: Long): Long = t0Ns + (k + 1) * BatchMs * 1000000L

    /** Send batch k at `rate` events/s; `realTime` waits for its due
    * time (set-up rounds send back to back). */
    def send(rate: Int, realTime: Boolean): Sent = {
      val perBatch = math.max(1, (rate * BatchMs / 1000).toInt)
      val fresh = Gen.liveInterval(seed, k, BatchMs, perBatch, zipf, LateShare)
      fresh.filter(_.batch != k).foreach(e =>
        held.getOrElseUpdate(e.batch, mutable.ArrayBuffer.empty) += e)
      val events = fresh.filter(_.batch == k) ++ held.remove(k).getOrElse(Nil)
      val due = dueNs(k)
      if (realTime) Clock.sleepUntil(due)
      val start = System.nanoTime()
      val rdf = events.map(Janus.toEvent(Stream))
      // a traced run wraps every other call, so the calls without a span
      // give the tracing overhead in the same process
      val traced = tracer.filter(_ => k % 2 == 1)
      traced match {
        case Some(tr) => tr.span("streaming.fire", k)(handle.addLiveEvents(Stream, rdf))
        case None     => handle.addLiveEvents(Stream, rdf)
      }
      val end = System.nanoTime()
      val s = Sent(k, events, due, start, end, model.deliver(events),
        traced.isDefined)
      sent += s
      k += 1
      s
    }

    def next: Long = k
  }

  /** Drains a handle's results on its own thread, stamping each. */
  final class Receiver(handle: JanusApi#QueryHandle) {
    val got = new ConcurrentLinkedQueue[(JanusApi.QueryResult, Long)]()
    @volatile private var running = true
    private val thread = new Thread(() => {
      while (running) handle.receive(20).foreach(r =>
        got.add((r, System.nanoTime())))
    }, "janusbench-receiver")
    thread.setDaemon(true)
    thread.start()

    def stop(): Unit = { running = false; thread.join() }

    /** Wait until `n` results arrived or the timeout passed. */
    def await(n: Int, timeoutMs: Long): Unit = {
      val deadline = System.currentTimeMillis() + timeoutMs
      while (got.size < n && System.currentTimeMillis() < deadline)
        Thread.sleep(10)
    }
  }

  /** Match results to expected fires by window close; count every wrong,
    * missing, duplicate or dropped result as a failed operation. Returns
    * close → receive time for the results that were right. */
  def checkResults(ops: Ops, fires: Seq[Expected.Fire],
      got: Seq[(JanusApi.QueryResult, Long)], dropped: Long): Map[Long, Long] = {
    val live = got.filter(_._1.source == JanusApi.ResultSource.Live)
    val byClose = live.groupBy(_._1.timestamp)
    val ok = mutable.Map.empty[Long, Long]
    fires.foreach { f =>
      ops.run(s"fire ${f.close}") {
        byClose.get(f.close) match {
          case None => Some("result missing")
          case Some(Seq((r, at))) =>
            val bad = r.bindings match {
              case Seq(b) => Expected.checkFire(f, b)
              case bs     => Some(s"${bs.length} rows, expected 1")
            }
            if (bad.isEmpty) ok(f.close) = at
            bad
          case Some(rs) => Some(s"${rs.length} results for one window")
        }
      }
    }
    val expected = fires.map(_.close).toSet
    byClose.keys.filterNot(expected).foreach(c =>
      ops.run(s"fire $c")(Some("result for a window that should not fire")))
    if (dropped > 0) {
      ops.attempt()
      ops.fail(s"$dropped results dropped by the live engine")
    }
    ok.toMap
  }

  def run(spark: SparkSession, a: Args, ops: Ops): Seq[(String, Metric)] = {
    val tracer = if (a.trace) Some(new Tracer(spark)) else None
    val layers = new Layers.Values
    // built as `serve` builds it; a live-only query never reads the log
    val log = new EventLog(spark, s"${a.work}/live-log")
    val api = Janus.api(spark, log, 0L)

    // ---- set-up rounds: start a query, push a short burst, drain, stop
    val setups = mutable.ArrayBuffer.empty[Double]
    val starts = mutable.ArrayBuffer.empty[Double]
    (1 to SetupRounds).foreach { r =>
      val t0 = System.nanoTime()
      api.registerQuery(s"setup$r", Text)
      val (h, startS) = Clock.timed(api.startQuery(s"setup$r"))
      starts += startS * 1000
      val model = new Expected.LiveModel(RangeMs, StepMs)
      val feeder = new Feeder(a.seed + r, h, model, System.nanoTime(), None)
      val rx = new Receiver(h)
      (1 to SetupBatches).foreach(_ => feeder.send(ReferenceRate, realTime = false))
      val fires = feeder.sent.flatMap(_.fires).toSeq
      rx.await(fires.length, 30000)
      rx.stop()
      checkResults(ops, fires, rx.got.asScala.toSeq, h.live.get.droppedResults)
      api.stopQuery(s"setup$r")
      api.unregisterQuery(s"setup$r")
      setups += Clock.secondsSince(t0)
    }

    // ---- timed: reference rate, then the ladder until a rung falls behind
    api.registerQuery("live", Text)
    val h = api.startQuery("live")
    val lp = h.live.get
    val model = new Expected.LiveModel(RangeMs, StepMs)
    val t0 = System.nanoTime()
    val feeder = new Feeder(a.seed, h, model, t0, tracer)
    val rx = new Receiver(h)
    val buffered = mutable.ArrayBuffer.empty[Double]
    val pending = mutable.ArrayBuffer.empty[Double]
    /** Send `seconds` worth of batches at `rate`. Returns what was sent
      * and whether the rung kept up. */
    def rung(rate: Int, seconds: Double): (Seq[Sent], Boolean) = {
      val planned = math.max(4, (seconds * 1000 / BatchMs).toInt)
      val cutoff = feeder.dueNs(feeder.next + planned - 1) + (OverrunS * 1e9).toLong
      val out = mutable.ArrayBuffer.empty[Sent]
      var maxPending = 0
      while (out.length < planned && System.nanoTime() <= cutoff) {
        out += feeder.send(rate, realTime = true)
        maxPending = math.max(maxPending, lp.pendingResultCount)
        if (tracer.isDefined && rate == ReferenceRate) {
          buffered += lp.bufferedEventCount
          pending += lp.pendingResultCount
        }
      }
      val worstLag = out.drop(out.length / 2).map(_.lagS).max
      val kept = out.length == planned && worstLag <= MaxLagS &&
        maxPending <= MaxPending
      System.err.println(s"janusbench: rung $rate ev/s kept up: $kept " +
        s"(${out.length}/$planned batches, worst second-half lag ${"%.3f".format(worstLag)} s)")
      (out.toSeq, kept)
    }
    val refSeconds = a.seconds * ReferenceShare
    val (reference, refKept) = rung(ReferenceRate, refSeconds)
    if (!refKept)
      System.err.println("janusbench: the reference rate fell behind; its latencies include the lag")
    val (overload, overKept) = rung(OverloadRate, a.seconds - refSeconds)
    if (overKept)
      System.err.println("janusbench: the overload rung kept up; throughput is the offered rate")
    // send cycles (one send's start to the next's) from the batch whose
    // window holds only overload-rate events on: their events over their
    // wall time. Cycle times are bimodal, so a median would jump between
    // modes; the total moves smoothly with their mix.
    val saturated = overload.drop(
      math.min((RangeMs / BatchMs).toInt, overload.length - 2))
    val cycles = saturated.length - 1
    val capacity = saturated.init.map(_.events.length).sum /
      ((saturated.last.startNs - saturated.head.startNs) / 1e9)
    val fires = feeder.sent.flatMap(_.fires).toSeq
    rx.await(fires.length, 30000)
    rx.stop()
    val received = rx.got.asScala.toSeq
    val ok = checkResults(ops, fires, received, lp.droppedResults)
    api.stopQuery("live")

    // latency of the reference rung's fires, from the due time of the
    // newest contributing event
    val refFires = reference.flatMap(_.fires)
    val latencies = refFires.flatMap(f => ok.get(f.close).map(at =>
      (at - (t0 + f.lastTs * 1000000L)) / 1e9))

    tracer.foreach { tr =>
      val sent = feeder.sent.toSeq
      def callS(r: Seq[Sent]) = r.filter(_.fires.nonEmpty).map(s => (s.endNs - s.startNs) / 1e9)
      layers("streaming.fire_s") = Stats.medianOr0(callS(reference))
      layers("streaming.saturated_fire_s") = Stats.medianOr0(callS(saturated))
      layers("streaming.fires") = fires.length
      layers("streaming.useful_fire_ratio") = fires.length.toDouble / math.max(1L, model.closes)
      layers("streaming.buffered_events") = Stats.medianOr0(buffered)
      layers("streaming.pending_results") = if (pending.isEmpty) 0.0 else pending.max
      layers("streaming.dropped_results") = lp.droppedResults.toDouble
      layers("streaming.gen_lag_s") = Stats.pct(reference.map(_.lagS), 0.9)
      layers("api.start_ms") = Stats.median(starts)
      val fireEnd = sent.flatMap(s => s.fires.map(f => f.close -> s.endNs)).toMap
      layers("api.poll_wait_ms") = Stats.medianOr0(ok.toSeq.flatMap { case (c, at) =>
        fireEnd.get(c).map(e => (at - e) / 1e6) })
      replayFires(spark, tr, reference, ops)
      tr.drain()
      Layers.fromRequests(tr, "fire.replay", layers)
      val (withSpan, without) = reference.partition(_.traced)
      layers("trace.overhead_ratio") =
        Stats.median(withSpan.map(s => (s.endNs - s.startNs).toDouble)) /
          Stats.median(without.map(s => (s.endNs - s.startNs).toDouble)) - 1
      tr.write(s"${a.work}/spans.jsonl")
    }

    if (a.trace) layers.metrics
    else Seq(
      "setup_s" -> Metric(Stats.median(setups), "s", setups.length),
      "answer_p50_s" -> Metric(Stats.median(latencies), "s", latencies.length),
      "answer_p90_s" -> Metric(Stats.pct(latencies, 0.9), "s", latencies.length),
      "throughput_per_s" -> Metric(capacity, "1/s", cycles))
  }

  /** Fires replayed layer by layer from the benchmark's own code, the
    * way the live engine evaluates one: window snapshot → combined
    * SPARQL → plan → executed plan → collect. Each replayed fire must
    * give the aggregate the model expects. */
  private def replayFires(spark: SparkSession, tr: Tracer, sent: Seq[Sent],
      ops: Ops): Unit = {
    val parsed = JanusQLParser.parse(Text)
    val query = LiveStreamProcessing.buildCombinedQuery(parsed)
    val window = parsed.liveWindows.head.windowName
    val delivered = mutable.ArrayBuffer.empty[Gen.Event]
    val sample = sent.filter(_.fires.nonEmpty)
    val every = math.max(1, sample.length / 20)
    val picked = sample.indices.filter(_ % every == 0).map(sample(_).k).toSet
    sent.foreach { s =>
      delivered ++= s.events
      if (picked(s.k)) s.fires.foreach { f =>
        val req = 1000000L + f.close
        ops.run(s"replayed fire ${f.close}") {
          tr.span("fire.replay", req) {
            val in = delivered.filter(e => e.ts >= f.close - RangeMs && e.ts < f.close)
            val df = tr.span("sparql.compile", req)(SparqlCompiler.compile(
              RdfEvent.toDF(spark, in.map(Janus.toEvent(window)).toSeq), query))
            tr.span("spark.plan", req)(df.queryExecution.executedPlan)
            val rows = tr.span("spark.collect", req)(df.collect())
            val b = rows.toSeq.map(r => df.columns.zipWithIndex.collect {
              case (c, i) if !r.isNullAt(i) => c -> String.valueOf(r.get(i))
            }.toMap)
            b match {
              case Seq(one) => Expected.checkFire(f, one)
              case other    => Some(s"${other.length} rows")
            }
          }
        }
      }
    }
  }
}
