package janusbench

import org.apache.spark.sql.SparkSession

import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable

/** Command line of one benchmark run. */
final case class Args(workload: String, seed: Long, seconds: Int,
    trace: Boolean, work: String, cores: Int)

object Args {
  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def need(k: String) = kv.getOrElse(k,
      throw new IllegalArgumentException(s"missing $k"))
    Args(need("--workload"), need("--seed").toLong, need("--seconds").toInt,
      need("--trace") == "1", need("--work"),
      kv.get("--cores").map(_.toInt)
        .getOrElse(Runtime.getRuntime.availableProcessors()))
  }
}

/** Attempted and failed operations. A failure keeps its reason; the
  * first few are printed to stderr so a red run explains itself. */
final class Ops {
  private val attempted = new AtomicLong
  private val failed = new AtomicLong
  private val reasons = mutable.ArrayBuffer.empty[String]

  def attempt(): Unit = attempted.incrementAndGet()

  def fail(reason: String): Unit = {
    failed.incrementAndGet()
    reasons.synchronized {
      if (reasons.length < 20) {
        reasons += reason
        System.err.println(s"janusbench: FAILED $reason")
      }
    }
  }

  /** Attempt one operation; `check` returns None when the answer is
    * right, or the reason it is wrong. Exceptions count as failures. */
  def run(what: String)(check: => Option[String]): Unit = {
    attempt()
    try check.foreach(r => fail(s"$what: $r"))
    catch { case e: Exception => fail(s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}") }
  }

  def attemptedCount: Long = attempted.get
  def failedCount: Long = failed.get
}

object Stats {
  /** Linear-interpolated percentile (q in [0, 1]) of a non-empty sample. */
  def pct(xs: Iterable[Double], q: Double): Double = {
    val s = xs.toArray.sorted
    require(s.nonEmpty, "percentile of an empty sample")
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Iterable[Double]): Double = pct(xs, 0.5)

  /** Tracing overhead from (traced, untraced) times of the same calls:
    * total traced over total untraced, minus 1. Run in alternating order,
    * whichever call of a pair runs first is slower as often traced as
    * not, so the totals cancel it; a median of per-pair ratios would
    * land on one side. 0 when there are no pairs. */
  def overhead(pairs: Iterable[(Double, Double)]): Double =
    if (pairs.isEmpty) 0.0 else pairs.map(_._1).sum / pairs.map(_._2).sum - 1

  /** Median, or 0 for an empty sample (layers that did no work). */
  def medianOr0(xs: Iterable[Double]): Double =
    if (xs.isEmpty) 0.0 else median(xs)
}

/** One metric value with its unit and the number of samples it was
  * taken over (0 for a value that is not a sample statistic). */
final case class Metric(value: Double, unit: String, n: Int = 0)

object Result {
  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)

  /** The result line: the last line of the run's stdout. Each metric's
    * sample count goes to stderr, since the line carries only value and
    * unit. */
  def line(correct: Boolean, ops: Ops, metrics: Seq[(String, Metric)]): String = {
    metrics.filter(_._2.n > 0).foreach { case (k, m) =>
      System.err.println(s"janusbench: $k = ${num(m.value)} ${m.unit} (n = ${m.n})")
    }
    val ms = metrics.map { case (k, m) =>
      s""""$k": {"value": ${num(m.value)}, "unit": "${m.unit}"}"""
    }.mkString(", ")
    s"""{"correct": $correct, "attempted": ${math.max(1L, ops.attemptedCount)}, """ +
      s""""failed": ${ops.failedCount}, "metrics": {$ms}}"""
  }
}

object Clock {
  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, secondsSince(t0))
  }

  /** Sleep until the monotonic clock reaches `dueNs`, never waking
    * before it. */
  def sleepUntil(dueNs: Long): Unit = {
    var left = dueNs - System.nanoTime()
    while (left > 0) {
      java.util.concurrent.locks.LockSupport.parkNanos(left)
      left = dueNs - System.nanoTime()
    }
  }
}

object Spark {
  /** A local session like the engine's own CLI builds, sized to the
    * machine's cores, with every scratch path inside `work`. */
  def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("janusbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
