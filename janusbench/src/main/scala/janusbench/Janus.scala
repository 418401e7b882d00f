package janusbench

import graft.api.{JanusApi, QueryRegistry}
import graft.core.RdfEvent
import graft.historical.HistoricalExecutor
import graft.janusql.{JanusQLParser, WindowType}
import graft.storage.EventLog

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, monotonically_increasing_id}

import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

/** The benchmark's calls into the engine's public API. */
object Janus {

  type Bindings = Seq[Map[String, String]]

  /** JanusApi built the way the engine's `serve` command builds it: the
    * default live engine, every window read from the whole log. The
    * clock is pinned so sliding OFFSET windows are deterministic. */
  def api(spark: SparkSession, log: EventLog, now: Long): JanusApi =
    new JanusApi(spark, new QueryRegistry(), _ => log.read(), () => now)

  def toEvent(stream: String)(e: Gen.Event): RdfEvent =
    RdfEvent(e.ts, Gen.sensor(e.sensor), Gen.Temperature, e.value, stream)

  private val queryIds = new AtomicLong

  /** One Janus-QL ON LOG query, as a client runs it: register, start,
    * receive every historical batch, stop. Returns the batches, or
    * throws when one does not arrive in time. */
  def historicalQuery(api: JanusApi, text: String, batches: Int,
      timeoutMs: Long = 60000): Seq[Bindings] = {
    val id = s"q${queryIds.incrementAndGet()}"
    api.registerQuery(id, text)
    try {
      val h = api.startQuery(id)
      try (1 to batches).map { i =>
        h.receive(timeoutMs).getOrElse(throw new java.util.concurrent
          .TimeoutException(s"batch $i of $batches not received")).bindings
      } finally api.stopQuery(id)
    } finally api.unregisterQuery(id)
  }

  private val Hidden = Set(HistoricalExecutor.WindowIdCol, "timestamp_from",
    "timestamp_to")

  private def binding(cols: Array[String])(row: Row): Map[String, String] =
    cols.zipWithIndex.collect {
      case (name, i) if !Hidden(name) && !row.isNullAt(i) =>
        name -> String.valueOf(row.get(i))
    }.toMap

  /** The same ON LOG query, replayed layer by layer from the benchmark's
    * own code with a span around each call JanusApi's worker makes:
    * parse → compiled SPARQL → log read → windowed plan → executed plan
    * → execution. */
  def tracedHistoricalQuery(tr: Tracer, log: EventLog, text: String,
      now: Long, request: Long): Seq[Bindings] = tr.span("query", request) {
    val parsed = tr.span("janusql.parse", request)(JanusQLParser.parse(text))
    val (window, query) = tr.span("sparql.compile", request)(
      parsed.compiledHistoricalQueries.head)
    val quads = tr.span("storage.read_open", request)(log.read())
    window.windowType match {
      case WindowType.HistoricalFixed =>
        val out = tr.span("sparql.compile", request)(
          HistoricalExecutor.executeFixed(quads, query, window.start.get,
            window.end.get))
        tr.span("spark.plan", request)(out.queryExecution.executedPlan)
        val rows = tr.span("historical.exec", request)(out.collect())
        Seq(rows.toSeq.map(binding(out.columns)))
      case _ =>
        val spec = HistoricalExecutor.SlidingSpec(window.offset.get,
          window.width, window.slide)
        val out = tr.span("sparql.compile", request)(
          HistoricalExecutor.executeSliding(quads, query, now, spec))
        tr.span("spark.plan", request)(out.queryExecution.executedPlan)
        tr.span("historical.exec", request)(slidingBatches(out, spec))
    }
  }

  /** Window batches in window order, streamed the way JanusApi streams
    * them (range-partitioned local iterator, empty batch for a window
    * with no solution). */
  private def slidingBatches(out: DataFrame,
      spec: HistoricalExecutor.SlidingSpec): Seq[Bindings] = {
    val idCol = col(HistoricalExecutor.WindowIdCol)
    val seqCol = "__janusbench_seq"
    val rows = out.withColumn(seqCol, monotonically_increasing_id())
      .repartitionByRange(idCol)
      .sortWithinPartitions(idCol, col(seqCol))
      .drop(seqCol)
      .toLocalIterator().asScala.buffered
    val cols = out.columns
    (0L until spec.windowCount).map { k =>
      val batch = Seq.newBuilder[Map[String, String]]
      while (rows.hasNext &&
        rows.head.getAs[Long](HistoricalExecutor.WindowIdCol) == k)
        batch += binding(cols)(rows.next())
      batch.result()
    }
  }

  /** Files the log's reader binds to, and their total bytes. */
  def visibleFiles(log: EventLog): (Int, Long) = {
    val files = log.read().inputFiles
    val conf = new org.apache.hadoop.conf.Configuration()
    val bytes = files.map { f =>
      val p = new org.apache.hadoop.fs.Path(f)
      p.getFileSystem(conf).getFileStatus(p).getLen
    }.sum
    (files.length, bytes)
  }

  /** Parquet data files under a log directory, hidden ones included. */
  def dataFiles(dir: String): Int = countFiles(dir, _.endsWith(".parquet"))

  /** Compaction markers committed under a log directory. */
  def compactionMarkers(dir: String): Int =
    countFiles(dir, _.startsWith("_compact-"))

  private def countFiles(dir: String, p: String => Boolean): Int = {
    def walk(f: java.io.File): Int =
      if (f.isDirectory) Option(f.listFiles()).map(_.map(walk).sum).getOrElse(0)
      else if (p(f.getName)) 1 else 0
    walk(new java.io.File(dir))
  }
}
