package janusbench

import graft.baseline.BaselineBootstrap
import graft.core.RdfEvent
import graft.historical.HistoricalExecutor
import graft.janusql.JanusQLParser
import graft.storage.EventLog

import org.apache.spark.sql.SparkSession

import java.util.concurrent.LinkedBlockingQueue
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** `hybrid`: writes beside reads, the paper's headline dataflow. A
  * `USING BASELINE … AGGREGATE` query joins live readings against
  * per-sensor means bootstrapped from an ON LOG window and alerts on
  * `janus:absolute_threshold_exceeded`. Live runs at one fixed rate in
  * tumbling windows (RANGE = STEP), so each seeded anomaly alerts
  * exactly once. Every micro-batch is also appended to the same log,
  * while a reader runs closed-loop recent-window ON LOG queries ending at
  * the last fully appended batch. Baseline bootstrap, the stream-static
  * join, appends, compaction and listings made stale by appends all hit
  * one storage layer at once.
  *
  * The history sits at negative timestamps and the clock is pinned at
  * 0, so live event time starts at 0 (the live engine fires every step
  * boundary from 0 up to the first event) and the baseline window is
  * [OFFSET 600000 RANGE 600000 STEP 600000] = [−600 s, 0].
  *
  * End-to-end metrics: answer = anomalous reading's due time → its
  * alert's `receive`; throughput = quads appended per second of append
  * time, compaction included (the ingest rate the log's append path
  * sustains beside the reads). The append call and the reader's query
  * latency are the traced run's `storage.append_s` and
  * `historical.query_s`: under concurrent appends they spread too widely
  * between runs to carry a bound.
  */
object Hybrid {

  val Sensors = 100
  val HistorySeconds = 600
  val WindowMs = 500L
  val BatchMs = 500L
  val Rate = 200
  val AnomaliesPerWindow = 10
  val Threshold = 10
  val ReaderSpanMs = 2000L
  val SetupRounds = 5

  val Stream = Gen.SensorStream
  private val PerBatch = (Rate * BatchMs / 1000).toInt

  val Text: String =
    s"""PREFIX ex: <${Gen.Ex}>
       |PREFIX baseline: <https://janus.rs/baseline#>
       |PREFIX janus: <https://janus.rs/fn#>
       |REGISTER RStream ex:alerts AS
       |SELECT ?sensor ?live ?hist ?mean
       |FROM NAMED WINDOW ex:hist ON LOG ex:store [OFFSET ${HistorySeconds * 1000} RANGE ${HistorySeconds * 1000} STEP ${HistorySeconds * 1000}]
       |FROM NAMED WINDOW ex:live ON STREAM ex:sensorStream [RANGE $WindowMs STEP $WindowMs]
       |USING BASELINE ex:hist AGGREGATE
       |WHERE {
       |    WINDOW ex:hist { ?sensor ex:temperature ?hist }
       |    WINDOW ex:live { ?sensor ex:temperature ?live }
       |    ?sensor baseline:hist ?mean .
       |    FILTER(janus:absolute_threshold_exceeded(?live, ?mean, $Threshold))
       |}""".stripMargin

  def readerText(from: Long, to: Long): String =
    s"""PREFIX ex: <${Gen.Ex}>
       |SELECT (COUNT(?v) AS ?n)
       |FROM NAMED WINDOW ex:w ON LOG ex:store [START $from END $to]
       |WHERE { WINDOW ex:w { ?s ex:temperature ?v } }""".stripMargin

  /** History: every sensor reads once a second for 600 s, at
    * ts = −600 000 + second·1000 + sensor·5. */
  def history(seed: Long): Iterator[(Int, Long, String)] =
    (0 until HistorySeconds).iterator.flatMap { sec =>
      (0 until Sensors).iterator.map { k =>
        (k, -HistorySeconds * 1000L + sec * 1000L + k * 5L,
          Gen.reading(seed, k, sec.toLong))
      }
    }

  /** Interval k's events, in order: sensors in rotation; the last
    * interval before each window close carries the anomalies, at its
    * newest timestamps, far above the threshold and unique per run. */
  def interval(seed: Long, k: Long): Seq[Gen.Event] =
    (0 until PerBatch).map { j =>
      val ts = k * BatchMs + j * BatchMs / PerBatch
      val sensor = ((k * PerBatch + j) % Sensors).toInt
      val closing = (k + 1) * BatchMs % WindowMs == 0
      val anomaly = closing && j >= PerBatch - AnomaliesPerWindow
      val v =
        if (anomaly) Gen.decimal(60 + ((k * AnomaliesPerWindow + j) % 4000) * 0.01)
        else Gen.reading(seed, sensor, k * PerBatch + j)
      Gen.Event(ts, sensor, v, k)
    }

  def isAnomaly(e: Gen.Event): Boolean = e.value.toDouble >= 60

  def run(spark: SparkSession, a: Args, ops: Ops): Seq[(String, Metric)] = {
    import spark.implicits._
    val tracer = if (a.trace) Some(new Tracer(spark)) else None
    val layers = new Layers.Values
    val hist = history(a.seed).toSeq
    val means = Expected.means(hist.iterator.map { case (k, _, v) => (k, v) })
    val meanOf: String => Option[Double] = iri =>
      means.collectFirst { case (k, m) if Gen.sensor(k) == iri => m }
    val histDF = hist.map { case (k, ts, v) =>
      (ts, Gen.sensor(k), Gen.Temperature, v, Stream)
    }.toDF("timestamp", "subject", "predicate", "object", "graph").cache()
    histDF.count()

    // ---- set-up rounds: fresh log + history, start, baseline warm-up
    val setups = mutable.ArrayBuffer.empty[Double]
    val warmups = mutable.ArrayBuffer.empty[Double]
    val starts = mutable.ArrayBuffer.empty[Double]
    var log: EventLog = null
    var api: graft.api.JanusApi = null
    var handle: graft.api.JanusApi#QueryHandle = null
    var logDir = ""
    (1 to SetupRounds).foreach { r =>
      logDir = s"${a.work}/hybrid-log-$r"
      val t0 = System.nanoTime()
      log = new EventLog(spark, logDir)
      log.appendBulk(histDF, a.cores)
      api = Janus.api(spark, log, 0L)
      api.registerQuery("alerts", Text)
      val tStart = System.nanoTime()
      val (h, startS) = Clock.timed(api.startQuery("alerts"))
      starts += startS * 1000
      ops.run("baseline warm-up") {
        if (!h.awaitWarmup(60000)) Some("warm-up timed out")
        else if (h.status != graft.api.JanusApi.ExecutionStatus.Running)
          Some(s"status ${h.status} after warm-up")
        else None
      }
      warmups += Clock.secondsSince(tStart)
      tracer.foreach(tr => tracedBootstrap(tr, log, r, means, ops))
      setups += Clock.secondsSince(t0)
      if (r < SetupRounds) {
        api.stopQuery("alerts")
        org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(logDir))
      } else handle = h
    }

    // ---- timed: feeder (live + hand-off), appender, reader, receiver
    val t0 = System.nanoTime()
    val appendQ = new LinkedBlockingQueue[Option[(Long, Seq[Gen.Event])]]()
    val appendedThrough = new AtomicLong(-1L)
    val appends = new java.util.concurrent.ConcurrentLinkedQueue[Double]()
    val appendFiles = new java.util.concurrent.ConcurrentLinkedQueue[Double]()
    val appender = new Thread(() => {
      var next = appendQ.take()
      while (next.isDefined) {
        val (k, events) = next.get
        ops.run(s"append $k") {
          val df = RdfEvent.toDF(spark, events.map(Janus.toEvent(Stream)))
          val before = if (tracer.isDefined) Janus.dataFiles(logDir) else 0
          val (_, s) = Clock.timed(tracer match {
            case Some(tr) => tr.span("storage.append", -k)(log.append(df))
            case None     => log.append(df)
          })
          appends.add(s)
          if (tracer.isDefined) appendFiles.add(Janus.dataFiles(logDir) - before)
          appendedThrough.set((k + 1) * BatchMs - 1)
          None
        }
        next = appendQ.take()
      }
    }, "janusbench-appender")
    appender.start()

    val rx = new Live.Receiver(handle)
    @volatile var reading = true
    val readerLat = mutable.ArrayBuffer.empty[Double]
    val pairs = mutable.ArrayBuffer.empty[(Double, Double)]
    val readerRows = mutable.ArrayBuffer.empty[Double]
    val reader = new Thread(() => {
      var n = 0L
      while (reading) {
        val to = appendedThrough.get
        if (to < ReaderSpanMs) Thread.sleep(20)
        else {
          n += 1
          val from = to - ReaderSpanMs + 1
          val want = (from / BatchMs to to / BatchMs).flatMap(interval(a.seed, _))
            .count(e => e.ts >= from && e.ts <= to).toLong
          val text = readerText(from, to)
          def verdict(got: Seq[Janus.Bindings]): Option[String] = got match {
            case Seq(Seq(b)) if Expected.sameCount(b.get("n"), want) => None
            case other => Some(s"[$from, $to]: got $other expected n=$want")
          }
          ops.run(s"reader query $n") {
            val (got, s) = Clock.timed(Janus.historicalQuery(api, text, 1))
            readerLat.synchronized(readerLat += s)
            verdict(got)
          }
          tracer.foreach { tr =>
            // the same replay traced and with its spans off, in
            // alternating order: their total ratio is the tracing overhead
            val times = mutable.Map.empty[Boolean, Double]
            (if (n % 2 == 0) Seq(true, false) else Seq(false, true)).foreach { on =>
              ops.run(s"${if (on) "traced" else "untraced"} replay of reader query $n") {
                val (got, s) = Clock.timed(
                  if (on) Janus.tracedHistoricalQuery(tr, log, text, 0L, n)
                  else tr.untraced(Janus.tracedHistoricalQuery(tr, log, text, 0L, n)))
                times(on) = s
                if (on) readerRows.synchronized(readerRows += got.map(_.length).sum)
                verdict(got)
              }
            }
            if (times.size == 2)
              pairs.synchronized(pairs += ((times(true), times(false))))
          }
        }
      }
    }, "janusbench-reader")
    reader.start()

    val model = new Expected.LiveModel(WindowMs, WindowMs)
    val lags = mutable.ArrayBuffer.empty[Double]
    val anomalies = mutable.ArrayBuffer.empty[Gen.Event]
    val fireCalls = mutable.ArrayBuffer.empty[Double]
    val fireEnds = mutable.Map.empty[Long, Long]
    val batches = (a.seconds * 1000 / BatchMs).toInt
    (0 until batches).foreach { k =>
      val events = interval(a.seed, k)
      val due = t0 + (k + 1) * BatchMs * 1000000L
      Clock.sleepUntil(due)
      val start = System.nanoTime()
      lags += (start - due) / 1e9
      val rdf = events.map(Janus.toEvent(Stream))
      val fires = model.deliver(events)
      tracer match {
        case Some(tr) if fires.nonEmpty =>
          tr.span("streaming.fire", k)(handle.addLiveEvents(Stream, rdf))
        case _ => handle.addLiveEvents(Stream, rdf)
      }
      if (fires.nonEmpty) {
        val end = System.nanoTime()
        fireCalls += (end - start) / 1e9
        fires.foreach(f => fireEnds(f.close) = end)
      }
      anomalies ++= events.filter(isAnomaly)
      appendQ.put(Some((k.toLong, events)))
    }
    reading = false
    reader.join()
    appendQ.put(None)
    appender.join()
    // fire the last window, then collect every alert
    val finalTs = (batches * BatchMs / WindowMs + 1) * WindowMs
    handle.live.get.closeStream(Stream, finalTs)
    val closing = model.close(finalTs)
    rx.await(anomalies.length, 30000)
    Thread.sleep(100)
    rx.stop()
    val dropped = handle.live.get.droppedResults
    api.stopQuery("alerts")

    val alerts = rx.got.asScala.toSeq.filter(
      _._1.source == graft.api.JanusApi.ResultSource.Live)
    val expected = anomalies.map(e => (Gen.sensor(e.sensor), e.value)).toSet
    countAlerts(ops, expected, alerts.flatMap(_._1.bindings), meanOf)
    if (dropped > 0) { ops.attempt(); ops.fail(s"$dropped results dropped") }
    val dueOf = anomalies.map(e => (Gen.sensor(e.sensor), e.value) -> (t0 + e.ts * 1000000L)).toMap
    val latencies = alerts.flatMap { case (r, at) =>
      r.bindings.flatMap(b => dueOf.get((b.getOrElse("sensor", ""), b.getOrElse("live", ""))))
        .map(due => (at - due) / 1e9)
    }
    val appendS = appends.asScala.toSeq

    tracer.foreach { tr =>
      tr.drain()
      Layers.fromRequests(tr, "query", layers)
      val (files, bytes) = Janus.visibleFiles(log)
      val quads = hist.length + batches * PerBatch
      layers("storage.files_visible") = files
      layers("storage.disk_bytes_per_quad") = bytes.toDouble / quads
      // task input bytes over the log bytes a reader window holds
      val all = tr.spans
      val inWindow = bytes.toDouble * (ReaderSpanMs * Rate / 1000) / quads
      layers("storage.scan_ratio") = Stats.medianOr0(all.filter(_.name == "query")
        .map(r => tr.cost(r, all).inputBytes / math.max(1.0, inWindow)))
      layers("storage.append_s") = Stats.medianOr0(appendS)
      layers("storage.append_p90_s") = Stats.pct(appendS, 0.9)
      layers("storage.files_per_append") = Stats.medianOr0(appendFiles.asScala)
      layers("storage.compactions") = Janus.compactionMarkers(logDir)
      layers("streaming.fire_s") = Stats.medianOr0(fireCalls)
      layers("streaming.fires") = fireCalls.length
      layers("streaming.useful_fire_ratio") =
        alerts.map(_._1.timestamp).distinct.length.toDouble /
          math.max(1, fireEnds.size + closing.length)
      layers("api.poll_wait_ms") = Stats.medianOr0(alerts.flatMap { case (r, at) =>
        fireEnds.get(r.timestamp).map(e => (at - e) / 1e6) })
      layers("historical.windows") = 1
      layers("historical.query_s") = Stats.medianOr0(readerLat)
      layers("historical.rows_out") = Stats.medianOr0(readerRows)
      layers("streaming.gen_lag_s") = Stats.pct(lags, 0.9)
      layers("streaming.dropped_results") = dropped.toDouble
      layers("api.start_ms") = Stats.median(starts)
      layers("api.warmup_s") = Stats.median(warmups)
      layers("baseline.bootstrap_s") =
        Stats.medianOr0(tr.named("baseline.bootstrap").map(_.durMs / 1000))
      layers("baseline.statements") = means.size
      layers("trace.overhead_ratio") = Stats.overhead(pairs)
      tr.write(s"${a.work}/spans.jsonl")
    }

    if (a.trace) layers.metrics
    else Seq(
      "setup_s" -> Metric(Stats.median(setups), "s", setups.length),
      "answer_p50_s" -> Metric(Stats.median(latencies), "s", latencies.length),
      "answer_p90_s" -> Metric(Stats.pct(latencies, 0.9), "s", latencies.length),
      "throughput_per_s" -> Metric(batches * PerBatch / appendS.sum, "1/s", appendS.length))
  }

  /** Each injected anomaly is one operation; each wrong, missing,
    * duplicate or extra alert is one failure. */
  def countAlerts(ops: Ops, expected: Set[(String, String)],
      alerts: Seq[Map[String, String]], mean: String => Option[Double]): Unit = {
    val bad = Expected.checkAlerts(expected, alerts, mean)
    (1 to math.max(expected.size, bad.length)).foreach(_ => ops.attempt())
    bad.foreach(ops.fail)
  }

  /** The baseline warm-up replayed from the benchmark's own code, the way
    * JanusApi computes it: read the log, evaluate the ON LOG window,
    * bootstrap AGGREGATE statements. The statements must carry the
    * expected per-sensor means. */
  private def tracedBootstrap(tr: Tracer, log: EventLog, round: Int,
      means: Map[Int, Double], ops: Ops): Unit = {
    val req = -1000L - round
    ops.run(s"traced bootstrap $round") {
      val statements = tr.span("warmup", req) {
        val parsed = tr.span("janusql.parse", req)(JanusQLParser.parse(Text))
        val (window, query) = tr.span("sparql.compile", req)(
          parsed.compiledHistoricalQueries.head)
        val quads = tr.span("storage.read_open", req)(log.read())
        val spec = HistoricalExecutor.SlidingSpec(window.offset.get,
          window.width, window.slide)
        val out = tr.span("sparql.compile", req)(
          HistoricalExecutor.executeSliding(quads, query, 0L, spec))
        val rows = tr.span("historical.exec", req)(out.collect())
        val cols = out.columns
        val batches = rows.toSeq.groupBy(_.getAs[Long](HistoricalExecutor.WindowIdCol))
          .toSeq.sortBy(_._1).map(_._2.map(r => cols.zipWithIndex.collect {
            case (c, i) if !r.isNullAt(i) && (c == "sensor" || c == "hist") =>
              c -> String.valueOf(r.get(i))
          }.toMap))
        tr.span("baseline.bootstrap", req)(BaselineBootstrap.statementsLocal(
          batches, BaselineBootstrap.Aggregate))
      }
      val wrong = means.toSeq.filterNot { case (k, m) =>
        statements.exists { case (s, _, o) => s == Gen.sensor(k) && Expected.same(o, m) }
      }
      if (wrong.isEmpty && statements.length == means.size) None
      else Some(s"${wrong.length} wrong baseline means of ${means.size}")
    }
  }
}
