package janusbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One traced interval around a call into a layer. Times are wall-clock
  * ms (Spark's listener events carry the same clock, for job overlap)
  * plus monotonic ns (for durations and self time). */
final case class Span(id: Long, parent: Long, name: String, request: Long,
    startMs: Long, endMs: Long, startNs: Long, endNs: Long) {
  def durMs: Double = (endNs - startNs) / 1e6
}

/** Spans held in memory, written once at the end of the run, and a
  * Spark listener that files every job under the job group of the span
  * that was open on the submitting thread. Spark's local properties are
  * inherited by threads started inside a span, so jobs that JanusApi's
  * own worker threads run are attributed too.
  */
final class Tracer(spark: SparkSession) {
  private val ids = new AtomicLong
  private val done = mutable.ArrayBuffer.empty[Span]
  private val open = new ThreadLocal[List[(Long, Long)]] {
    override def initialValue(): List[(Long, Long)] = Nil
  }
  private val muted = new ThreadLocal[Boolean] {
    override def initialValue(): Boolean = false
  }
  val ledger = new JobLedger
  spark.sparkContext.addSparkListener(ledger)

  /** Run `body` with this thread's spans switched off: the same calls,
    * untraced, so that timing both gives the tracing overhead. */
  def untraced[T](body: => T): T = {
    muted.set(true)
    try body finally muted.set(false)
  }

  /** Run `body` inside a span named `name`, child of the span open on
    * this thread (if any). `request` groups the spans of one operation. */
  def span[T](name: String, request: Long)(body: => T): T =
    if (muted.get) body else record(name, request)(body)

  private def record[T](name: String, request: Long)(body: => T): T = {
    val sc = spark.sparkContext
    val id = ids.incrementAndGet()
    val parent = open.get.headOption.map(_._1).getOrElse(0L)
    val prevGroup = sc.getLocalProperty(Tracer.JobGroupKey)
    sc.setLocalProperty(Tracer.JobGroupKey, Tracer.group(id))
    open.set((id, request) :: open.get)
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      open.set(open.get.tail)
      sc.setLocalProperty(Tracer.JobGroupKey, prevGroup)
      done.synchronized {
        done += Span(id, parent, name, request, startMs,
          System.currentTimeMillis(), t0, t1)
      }
    }
  }

  def spans: Seq[Span] = done.synchronized(done.toList)

  def named(name: String): Seq[Span] = spans.filter(_.name == name)

  /** A span's duration minus the part its child spans cover. */
  def selfMs(s: Span, all: Seq[Span]): Double = {
    val kids = all.filter(_.parent == s.id).map(k => (k.startNs, k.endNs))
    s.durMs - Tracer.union(kids) / 1e6
  }

  /** Ids of `root` and every span under it. */
  def subtree(root: Span, all: Seq[Span]): Set[Long] = {
    val byParent = all.groupBy(_.parent)
    def go(id: Long): Seq[Long] =
      id +: byParent.getOrElse(id, Nil).flatMap(k => go(k.id))
    go(root.id).toSet
  }

  /** Spark work attributed to the spans under `root`. */
  def cost(root: Span, all: Seq[Span]): JobLedger.Cost =
    ledger.cost(subtree(root, all).map(Tracer.group))

  /** Wait until the listener bus has delivered every job's end. */
  def drain(timeoutMs: Long = 10000): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (!ledger.settled && System.currentTimeMillis() < deadline)
      Thread.sleep(20)
  }

  /** Spans as JSON lines, written at the end of the run. */
  def write(path: String): Unit = {
    val lines = spans.sortBy(_.id).map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
        s""""request":${s.request},"start_ms":${s.startMs},""" +
        s""""end_ms":${s.endMs},"dur_ms":${s.durMs}}"""
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      lines.asJava)
  }
}

object Tracer {
  /** Spark's local property for the job group (`SparkContext.setJobGroup`). */
  val JobGroupKey = "spark.jobGroup.id"

  def group(spanId: Long): String = s"janusbench-span-$spanId"

  /** Total length of the union of [start, end] intervals. */
  def union(iv: Seq[(Long, Long)]): Double = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s
        curE = e
      } else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total.toDouble
  }
}

/** Jobs, stages and task metrics, filed by job group. */
final class JobLedger extends SparkListener {
  import JobLedger._

  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val stages = new ConcurrentHashMap[Int, StageCost]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties)
      .flatMap(p => Option(p.getProperty(Tracer.JobGroupKey)))
      .getOrElse("")
    jobs.put(e.jobId, new Job(g, e.time, e.stageIds))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val m = i.taskMetrics
    stages.put(i.stageId, StageCost(
      tasks = i.numTasks,
      busyS = m.executorRunTime / 1000.0,
      shuffleBytes = m.shuffleReadMetrics.totalBytesRead +
        m.shuffleWriteMetrics.bytesWritten,
      spillBytes = m.memoryBytesSpilled + m.diskBytesSpilled,
      inputBytes = m.inputMetrics.bytesRead))
  }

  def settled: Boolean = jobs.values.asScala.forall(_.endMs >= 0)

  def cost(groups: Set[String]): Cost = {
    val js = jobs.values.asScala.filter(j => groups.contains(j.group)).toSeq
    val ss = js.flatMap(_.stages).distinct.flatMap(s => Option(stages.get(s)))
    Cost(
      jobs = js.length,
      stages = ss.length,
      tasks = ss.map(_.tasks.toLong).sum,
      busyS = ss.map(_.busyS).sum,
      jobWallMs = Tracer.union(js.map(j =>
        (j.startMs, math.max(j.startMs, j.endMs)))),
      shuffleBytes = ss.map(_.shuffleBytes).sum,
      spillBytes = ss.map(_.spillBytes).sum,
      inputBytes = ss.map(_.inputBytes).sum)
  }
}

object JobLedger {
  private final class Job(val group: String, val startMs: Long,
      val stages: Seq[Int]) {
    @volatile var endMs: Long = -1L
  }

  final case class StageCost(tasks: Int, busyS: Double, shuffleBytes: Long,
      spillBytes: Long, inputBytes: Long)

  final case class Cost(jobs: Int, stages: Int, tasks: Long, busyS: Double,
      jobWallMs: Double, shuffleBytes: Long, spillBytes: Long,
      inputBytes: Long)
}
