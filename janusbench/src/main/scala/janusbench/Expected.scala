package janusbench

import scala.collection.mutable

/** Expected answers, computed in plain Scala from the generator's
  * inputs. Nothing here calls engine code, so an engine defect cannot
  * hide in the reference it is compared against. The `check*` methods
  * return None for a right answer, or why it is wrong.
  */
object Expected {

  /** Numbers the engine prints from doubles: equal up to summation
    * order. */
  def same(actual: String, expected: Double): Boolean =
    actual.toDoubleOption.exists(a =>
      math.abs(a - expected) <= 1e-9 * math.max(1.0, math.abs(expected)))

  def sameCount(actual: Option[String], expected: Long): Boolean =
    actual.flatMap(_.toLongOption).contains(expected)

  // ---- historical --------------------------------------------------------

  /** Aggregates over index ranges of the generated history. */
  final class HistoryIndex(seed: Long, h: Gen.History) {
    private val n = h.quads.toInt
    private val subj = new Array[Int](n)
    private val ageOf = new Array[Byte](n)
    private val ageCount = new Array[Int](n + 1)
    private val ageSum = new Array[Long](n + 1)

    locally {
      var i = 0
      while (i < n) {
        subj(i) = Gen.subjectIdx(seed, h, i)
        val isAge = Gen.predCode(i) == 3
        val a = if (isAge) Gen.age(seed, i) else 0
        ageOf(i) = a.toByte
        ageCount(i + 1) = ageCount(i) + (if (isAge) 1 else 0)
        ageSum(i + 1) = ageSum(i) + a
        i += 1
      }
    }

    /** Index range [lo, hi) of quads with a <= ts <= b. */
    def range(a: Long, b: Long): (Int, Int) = {
      def firstAtLeast(t: Long): Int =
        if (t <= h.startTs) 0
        else math.min(n.toLong, (t - h.startTs + h.stepMs - 1) / h.stepMs).toInt
      val lo = firstAtLeast(a)
      val hi = if (b < h.startTs) 0 else firstAtLeast(b + 1)
      (lo, math.max(lo, hi))
    }

    /** (count, mean) of hasAge objects in [a, b]. */
    def ages(a: Long, b: Long): (Long, Double) = {
      val (lo, hi) = range(a, b)
      val c = (ageCount(hi) - ageCount(lo)).toLong
      (c, if (c == 0) Double.NaN else (ageSum(hi) - ageSum(lo)).toDouble / c)
    }

    /** Solutions of { ?p hasAge ?age . ?p livesIn ?c . FILTER(?age > min) }
      * in [a, b]: per subject, (#ages above min) × (#livesIn). */
    def joinCount(a: Long, b: Long, minAge: Int): Long = {
      val (lo, hi) = range(a, b)
      val old = new Array[Long](h.subjects)
      val lives = new Array[Long](h.subjects)
      var i = lo
      while (i < hi) {
        Gen.predCode(i) match {
          case 3 if ageOf(i) > minAge => old(subj(i)) += 1
          case 2                      => lives(subj(i)) += 1
          case _                      => ()
        }
        i += 1
      }
      var total = 0L
      var k = 0
      while (k < h.subjects) { total += old(k) * lives(k); k += 1 }
      total
    }

    /** hasAge count of each sliding window k = 0 .. offset/step, window k
      * covering [now−offset+k·step, min(now−offset+k·step+range, now)]. */
    def slidingAgeCounts(now: Long, offset: Long, rangeMs: Long,
        step: Long): Seq[Long] = {
      val base = now - offset
      (0L to offset / step).map { k =>
        val from = base + k * step
        ages(from, math.min(from + rangeMs, now))._1
      }
    }

    /** The quads a point lookup of [t, t] must return. */
    def quadsAt(t: Long): Seq[Quad] =
      h.indexAt(t).map(i => Gen.historyQuad(seed, h, i)).toSeq
  }

  // ---- live --------------------------------------------------------------

  /** The aggregate one live fire must report. `lastTs` is the creation
    * stamp of the newest event in the window: result latency is timed
    * from it. */
  final case class Fire(close: Long, count: Long, sum: Double, max: Double,
      lastTs: Long)

  /** The live engine's documented window semantics, replayed: a window
    * [c − range, c) fires once, when a delivered event first carries
    * ts >= c, over every event delivered up to then. An event delivered
    * after the fire that covers it is never retracted into it; it still
    * counts in any later window whose range holds it. Windows with no
    * event emit nothing. */
  final class LiveModel(rangeMs: Long, stepMs: Long) {
    private val buffer = mutable.ArrayBuffer.empty[Gen.Event]
    private var nextClose = stepMs
    private var maxTs = Long.MinValue
    /** Step boundaries passed, empty windows included. */
    var closes = 0L

    def deliver(events: Seq[Gen.Event]): Seq[Fire] = {
      buffer ++= events
      if (events.nonEmpty) maxTs = math.max(maxTs, events.map(_.ts).max)
      advanceTo(maxTs)
    }

    /** A stream close at `finalTs` (the engine's sentinel event). */
    def close(finalTs: Long): Seq[Fire] = {
      maxTs = math.max(maxTs, finalTs)
      advanceTo(maxTs)
    }

    private def advanceTo(t: Long): Seq[Fire] = {
      val out = mutable.ArrayBuffer.empty[Fire]
      while (nextClose <= t) {
        val c = nextClose
        val in = buffer.filter(e => e.ts >= c - rangeMs && e.ts < c)
        if (in.nonEmpty) {
          val vs = in.map(_.value.toDouble)
          out += Fire(c, in.length, vs.sum, vs.max, in.map(_.ts).max)
        }
        nextClose += stepMs
        closes += 1
      }
      buffer.filterInPlace(_.ts >= nextClose - rangeMs)
      out.toSeq
    }
  }

  def checkFire(f: Fire, b: Map[String, String]): Option[String] =
    if (!sameCount(b.get("n"), f.count))
      Some(s"fire ${f.close}: n=${b.get("n")} expected ${f.count}")
    else if (!b.get("sum").exists(same(_, f.sum)))
      Some(s"fire ${f.close}: sum=${b.get("sum")} expected ${f.sum}")
    else if (!b.get("max").exists(same(_, f.max)))
      Some(s"fire ${f.close}: max=${b.get("max")} expected ${f.max}")
    else None

  // ---- hybrid ------------------------------------------------------------

  /** Per-sensor mean of readings, the AGGREGATE baseline. */
  def means(readings: Iterator[(Int, String)]): Map[Int, Double] = {
    val acc = mutable.Map.empty[Int, (Double, Long)]
    readings.foreach { case (k, v) =>
      val (s, c) = acc.getOrElse(k, (0.0, 0L))
      acc(k) = (s + v.toDouble, c + 1)
    }
    acc.map { case (k, (s, c)) => k -> s / c }.toMap
  }

  /** An alert is (sensor IRI, live value). The alert set must equal the
    * injected anomaly set, each alert carrying its sensor's baseline
    * mean. Returns one reason per wrong, missing or extra alert. */
  def checkAlerts(expected: Set[(String, String)],
      actual: Seq[Map[String, String]], mean: String => Option[Double])
      : Seq[String] = {
    val got = actual.map(b => (b.getOrElse("sensor", ""), b.getOrElse("live", "")))
    val dup = got.groupBy(identity).collect {
      case (k, vs) if vs.length > 1 => s"alert $k emitted ${vs.length} times"
    }
    val missing = (expected -- got).map(k => s"missing alert $k")
    val extra = (got.toSet -- expected).map(k => s"unexpected alert $k")
    val badMean = actual.flatMap { b =>
      val s = b.getOrElse("sensor", "")
      (mean(s), b.get("mean")) match {
        case (Some(m), Some(v)) if same(v, m) => None
        case (m, v) => Some(s"alert $s: mean=$v expected $m")
      }
    }
    dup.toSeq ++ missing.toSeq ++ extra.toSeq ++ badMean
  }
}
