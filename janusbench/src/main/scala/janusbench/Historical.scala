package janusbench

import graft.storage.EventLog

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

import scala.collection.mutable

/** `historical`: read-only. A seeded sensor-free quad log in the
  * reference storage-benchmark shape is bulk-loaded, then one client runs
  * a closed loop of Janus-QL ON LOG queries with point lookups
  * interleaved. Exercises storage reads, SPARQL compile, Catalyst
  * planning and Spark jobs; bypasses the live engine and the micro-batch
  * append path.
  *
  * End-to-end metrics: answer = one ON LOG query through JanusApi;
  * throughput = ON LOG queries per second of the one closed-loop client
  * (1 / mean answer). Bulk-load rate and point lookups (hot: the newest
  * 1 % of the span, served from the point cache; spread: uniform over
  * the log, a working set larger than the cache) are checked in every
  * run and reported by the traced run (`storage.load_quads_per_s`,
  * `storage.point_hot_ms`, `storage.point_query_ms`): they are CPU-bound
  * enough to spread past any bound between runs on a shared machine.
  */
object Historical {

  val History = Gen.History(quads = 1000000L, startTs = 1700000000000L,
    stepMs = 200L)
  val SetupRounds = 3
  /** Point lookups after each query: HotSamples bursts of HotBurst
    * lookups in the newest 1 % of the span (each burst is one sample, its
    * mean per lookup), then SpreadSamples single lookups uniform over the
    * log. */
  val HotSamples = 7
  val HotBurst = 10
  val SpreadSamples = 3
  val RepeatShare = 0.5

  /** The query mix cycles through these slots, so every seed runs the
    * same proportions of kinds and sizes; the seed picks positions and
    * which earlier windows repeat. (kind, share of the span). */
  sealed trait Kind
  case object AgeStats extends Kind
  case object OldJoin extends Kind
  case object Sliding extends Kind
  val Slots: Seq[(Kind, Double)] = Seq(AgeStats -> 0.01, OldJoin -> 0.05,
    Sliding -> 0.10, AgeStats -> 0.25, OldJoin -> 0.01, AgeStats -> 1.0,
    Sliding -> 0.25, OldJoin -> 0.20)
  val MinAge = 60

  final case class Query(kind: Kind, start: Long, end: Long) {
    /** Sliding: OFFSET = end − start, RANGE = STEP = OFFSET / 4. */
    def offset: Long = end - start
    def step: Long = offset / 4
    def windows: Int = if (kind == Sliding) (offset / step + 1).toInt else 1

    def text: String = {
      val window = kind match {
        case Sliding => s"[OFFSET $offset RANGE $step STEP $step]"
        case _       => s"[START $start END $end]"
      }
      val (select, body) = kind match {
        case AgeStats => ("(COUNT(?age) AS ?n) (AVG(?age) AS ?avg)",
          "?p ex:hasAge ?age")
        case OldJoin => ("(COUNT(?c) AS ?n)",
          s"?p ex:hasAge ?age . ?p ex:livesIn ?c . FILTER(?age > $MinAge)")
        case Sliding => ("(COUNT(?age) AS ?n)", "?p ex:hasAge ?age")
      }
      s"""PREFIX ex: <${Gen.Ex}>
         |SELECT $select
         |FROM NAMED WINDOW ex:w ON LOG ex:store $window
         |WHERE { WINDOW ex:w { $body } }""".stripMargin
    }
  }

  /** The seeded mix: query n. Half of the queries repeat an earlier
    * window of the same slot. */
  final class Mix(seed: Long) {
    private val issued = mutable.Map.empty[Int, mutable.ArrayBuffer[Query]]
    private val span = History.endTs - History.startTs

    def query(n: Int): Query = {
      val slot = n % Slots.length
      val (kind, share) = Slots(slot)
      val earlier = issued.getOrElseUpdate(slot, mutable.ArrayBuffer.empty)
      if (earlier.nonEmpty && Gen.unit(seed, n, 10) < RepeatShare)
        earlier(Gen.below(seed, n, 11, earlier.length))
      else {
        val q = kind match {
          case Sliding =>
            // sliding windows end at the pinned clock; the seed varies
            // the offset by ±20 %
            val off = (share * span * (0.8 + 0.4 * Gen.unit(seed, n, 12))).toLong
            Query(kind, History.endTs - off, History.endTs)
          case _ =>
            val width = (share * span).toLong
            val start = History.startTs +
              ((span - width) * Gen.unit(seed, n, 12)).toLong
            Query(kind, start, start + width)
        }
        earlier += q
        q
      }
    }
  }

  def check(ix: Expected.HistoryIndex, q: Query, got: Seq[Janus.Bindings])
      : Option[String] = {
    def one(b: Janus.Bindings): Option[Map[String, String]] =
      if (b.length == 1) Some(b.head) else None
    q.kind match {
      case AgeStats =>
        val (n, avg) = ix.ages(q.start, q.end)
        one(got.head) match {
          case Some(b) if Expected.sameCount(b.get("n"), n) &&
              b.get("avg").exists(Expected.same(_, avg)) => None
          case other => Some(s"${q}: got $other expected n=$n avg=$avg")
        }
      case OldJoin =>
        val n = ix.joinCount(q.start, q.end, MinAge)
        one(got.head) match {
          case Some(b) if Expected.sameCount(b.get("n"), n) => None
          case other => Some(s"${q}: got $other expected n=$n")
        }
      case Sliding =>
        val want = ix.slidingAgeCounts(History.endTs, q.offset, q.step, q.step)
        val ok = got.length == want.length && got.zip(want).forall {
          case (b, 0L) => b.isEmpty
          case (b, n)  => one(b).exists(r => Expected.sameCount(r.get("n"), n))
        }
        if (ok) None else Some(s"${q}: got ${got.map(_.map(_.get("n")))} expected $want")
    }
  }

  def checkLookup(ix: Expected.HistoryIndex, t: Long,
      got: Seq[graft.core.RdfEvent]): Option[String] = {
    val want = ix.quadsAt(t)
    val have = got.map(e => Quad(e.timestamp, e.subject, e.predicate,
      e.objectValue, e.graph))
    if (have == want) None else Some(s"pointQuery($t): got $have expected $want")
  }

  /** The generated log as a DataFrame, built by Spark tasks from the
    * generator's pure functions and held in memory so a timed bulk load
    * measures the write, not the generation. */
  def input(spark: SparkSession, seed: Long, cores: Int): DataFrame = {
    import spark.implicits._
    val h = History
    val df = spark.range(0, h.quads, 1, cores).mapPartitions { it =>
      it.map { i =>
        val q = Gen.historyQuad(seed, h, i)
        (q.ts, q.s, q.p, q.o, q.g)
      }
    }.toDF("timestamp", "subject", "predicate", "object", "graph")
      .persist(StorageLevel.MEMORY_ONLY)
    df.count()
    df
  }

  def run(spark: SparkSession, a: Args, ops: Ops): Seq[(String, Metric)] = {
    val ix = new Expected.HistoryIndex(a.seed, History)
    val data = input(spark, a.seed, a.cores)
    val mix = new Mix(a.seed)
    val tracer = if (a.trace) Some(new Tracer(spark)) else None
    val layers = new Layers.Values
    val now = History.endTs
    val span = History.endTs - History.startTs

    // ---- set-up rounds: fresh log, bulk load, first lookup, first query
    val setups = mutable.ArrayBuffer.empty[Double]
    val loads = mutable.ArrayBuffer.empty[Double]
    var log: EventLog = null
    var api: graft.api.JanusApi = null
    (1 to SetupRounds).foreach { r =>
      val dir = s"${a.work}/historical-log-$r"
      val t0 = System.nanoTime()
      log = new EventLog(spark, dir)
      val (_, loadS) = Clock.timed(tracer match {
        case Some(tr) => tr.span("storage.bulk_write", -r)(log.appendBulk(data, a.cores))
        case None     => log.appendBulk(data, a.cores)
      })
      loads += History.quads / loadS
      api = Janus.api(spark, log, now)
      val t = History.ts(History.quads - 1)
      ops.run("first lookup")(checkLookup(ix, t, log.pointQuery(t, t)))
      val q = mix.query(0)
      ops.run("first query")(check(ix, q,
        Janus.historicalQuery(api, q.text, q.windows)))
      setups += Clock.secondsSince(t0)
      if (r < SetupRounds)
        org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }

    // ---- warm-up: one untimed pass over every slot of the mix, so the
    // timed loop does not start on a cold JIT for the kinds set-up skipped
    Slots.indices.foreach { i =>
      val q = mix.query(i)
      ops.run(s"warm-up query $i")(check(ix, q,
        Janus.historicalQuery(api, q.text, q.windows)))
    }

    // ---- timed closed loop
    val answers = mutable.ArrayBuffer.empty[Double]
    val pairs = mutable.ArrayBuffer.empty[(Double, Double)]
    val lookups = mutable.ArrayBuffer.empty[Double]
    val hotLookups = mutable.ArrayBuffer.empty[Double]
    val issued = mutable.Map.empty[Int, Query]
    val rowsOut = mutable.ArrayBuffer.empty[Double]
    val deadline = System.nanoTime() + a.seconds * 1000000000L
    var n = Slots.length
    var lk = 0L
    while (System.nanoTime() < deadline) {
      val q = mix.query(n)
      issued(n) = q
      ops.run(s"query $n") {
        val (got, s) = Clock.timed(Janus.historicalQuery(api, q.text, q.windows))
        answers += s
        check(ix, q, got)
      }
      tracer.foreach { tr =>
        // the same replay traced and with its spans off, in an order that
        // alternates for each slot of the mix: their total ratio is the
        // tracing overhead
        val times = mutable.Map.empty[Boolean, Double]
        val tracedFirst = (n + n / Slots.length) % 2 == 0
        (if (tracedFirst) Seq(true, false) else Seq(false, true)).foreach { on =>
          ops.run(s"${if (on) "traced" else "untraced"} replay of query $n") {
            val (got, s) = Clock.timed(
              if (on) Janus.tracedHistoricalQuery(tr, log, q.text, now, n)
              else tr.untraced(Janus.tracedHistoricalQuery(tr, log, q.text, now, n)))
            times(on) = s
            if (on) rowsOut += got.map(_.length).sum.toDouble
            check(ix, q, got)
          }
        }
        if (times.size == 2) pairs += ((times(true), times(false)))
      }
      def lookup(i: Long): (Long, Seq[graft.core.RdfEvent]) = {
        val t = History.ts(i)
        (t, log.pointQuery(t, t))
      }
      (1 to HotSamples).foreach { _ =>
        val is = (1 to HotBurst).map { _ =>
          lk += 1
          History.quads - 1 - (Gen.unit(a.seed, lk, 21) * History.quads * 0.01).toLong
        }
        ops.run(s"hot lookup burst $lk") {
          val (got, s) = Clock.timed(is.map(lookup))
          hotLookups += s * 1000 / HotBurst
          got.flatMap { case (t, rows) => checkLookup(ix, t, rows) }.headOption
        }
      }
      (1 to SpreadSamples).foreach { _ =>
        lk += 1
        val i = (Gen.unit(a.seed, lk, 21) * History.quads).toLong
        ops.run(s"lookup $i") {
          val ((t, rows), s) = Clock.timed(lookup(i))
          lookups += s * 1000
          checkLookup(ix, t, rows)
        }
      }
      n += 1
    }

    tracer.foreach { tr =>
      tr.drain()
      Layers.fromRequests(tr, "query", layers)
      val all = tr.spans
      val reqs = all.filter(_.name == "query")
      val (files, bytes) = Janus.visibleFiles(log)
      layers("storage.files_visible") = files
      layers("storage.disk_bytes_per_quad") = bytes.toDouble / History.quads
      layers("storage.compactions") = Janus.compactionMarkers(s"${a.work}/historical-log-$SetupRounds")
      layers("storage.bulk_write_s") = Stats.median(tr.named("storage.bulk_write").map(_.durMs / 1000))
      layers("historical.windows") =
        Stats.median(reqs.map(r => issued(r.request.toInt).windows.toDouble))
      layers("historical.rows_out") = Stats.median(rowsOut)
      layers("historical.query_s") = Stats.median(answers)
      layers("storage.point_hot_ms") = Stats.median(hotLookups)
      layers("storage.point_query_ms") = Stats.median(lookups)
      layers("storage.load_quads_per_s") = Stats.median(loads)
      // task input bytes over the log bytes the query's time range holds
      layers("storage.scan_ratio") = Stats.median(reqs.map { r =>
        val q = issued(r.request.toInt)
        val share = (q.end - q.start).toDouble / span
        tr.cost(r, all).inputBytes / math.max(1.0, bytes * share)
      })
      layers("trace.overhead_ratio") = Stats.overhead(pairs)
      tr.write(s"${a.work}/spans.jsonl")
    }

    if (a.trace) layers.metrics
    else Seq(
      "setup_s" -> Metric(Stats.median(setups), "s", setups.length),
      "answer_p50_s" -> Metric(Stats.median(answers), "s", answers.length),
      "answer_p90_s" -> Metric(Stats.pct(answers, 0.9), "s", answers.length),
      "throughput_per_s" -> Metric(answers.length / answers.sum, "1/s", answers.length))
  }

}
