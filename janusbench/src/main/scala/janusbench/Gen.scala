package janusbench

/** Seeded input generator. Every generated value is a pure function of
  * (seed, index), so Spark tasks, the driver and the checker all derive
  * the same inputs without shipping them around. Nothing here calls
  * engine code: the engine only ever receives what this object makes.
  */
object Gen {

  val Ex = "http://example.org/"
  val Knows = Ex + "knows"
  val WorksAt = Ex + "worksAt"
  val LivesIn = Ex + "livesIn"
  val HasAge = Ex + "hasAge"
  val Temperature = Ex + "temperature"
  val SensorStream = Ex + "sensorStream"

  /** SplitMix64 finaliser over a seed and two coordinates. */
  def mix(seed: Long, a: Long, b: Long): Long = {
    var z = seed * 0x9E3779B97F4A7C15L + a * 0xBF58476D1CE4E5B9L +
      b * 0x94D049BB133111EBL + 0x2545F4914F6CDD1DL
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Uniform in [0, 1). */
  def unit(seed: Long, a: Long, b: Long): Double =
    (mix(seed, a, b) >>> 11) * (1.0 / (1L << 53))

  def below(seed: Long, a: Long, b: Long, n: Int): Int =
    java.lang.Long.remainderUnsigned(mix(seed, a, b), n.toLong).toInt

  // ---- historical: the reference storage-benchmark shape ----------------

  /** A quad log of `quads` events, one every `stepMs`, starting at
    * `startTs`: 10k subjects, 4 predicates (knows 40 %, worksAt 30 %,
    * livesIn 20 %, hasAge 10 %), 100 graphs. A subject's quads all sit
    * in its own graph (subject mod 100): an ON LOG window evaluates its
    * body inside one graph, so joins on the subject stay possible. */
  final case class History(quads: Long, startTs: Long, stepMs: Long,
      subjects: Int = 10000, graphs: Int = 100) {
    def ts(i: Long): Long = startTs + i * stepMs
    def endTs: Long = ts(quads - 1)
    /** Index of the quad at `t`, if one sits exactly there. */
    def indexAt(t: Long): Option[Long] =
      if (t < startTs || t > endTs || (t - startTs) % stepMs != 0) None
      else Some((t - startTs) / stepMs)
  }

  /** Predicate code of quad i: 0 knows, 1 worksAt, 2 livesIn, 3 hasAge. */
  def predCode(i: Long): Int = {
    val r = (i % 10).toInt
    if (r <= 3) 0 else if (r <= 6) 1 else if (r <= 8) 2 else 3
  }

  def subjectIdx(seed: Long, h: History, i: Long): Int =
    below(seed, i, 1, h.subjects)

  def age(seed: Long, i: Long): Int = 18 + below(seed, i, 2, 73)

  def person(k: Int): String = s"${Ex}person/$k"

  def historyQuad(seed: Long, h: History, i: Long): Quad = {
    val k = subjectIdx(seed, h, i)
    val s = person(k)
    val (p, o) = predCode(i) match {
      case 0 => (Knows, person(below(seed, i, 3, h.subjects)))
      case 1 => (WorksAt, s"${Ex}org/${below(seed, i, 3, 100)}")
      case 2 => (LivesIn, s"${Ex}city/${below(seed, i, 3, 50)}")
      case _ => (HasAge, age(seed, i).toString)
    }
    Quad(h.ts(i), s, p, o, s"${Ex}graph/${k % h.graphs}")
  }

  // ---- sensors: the reference's realistic_sensors shape ------------------

  def sensor(k: Int): String = s"${Ex}sensor/$k"

  /** 23 + 2·sin(2πi/100) (odd sensors: cos) + U(−0.5, 0.5), as a decimal
    * literal with two fraction digits. Reading i of sensor k. */
  def reading(seed: Long, k: Int, i: Long): String = {
    val phase = 2 * math.Pi * (i % 100) / 100.0
    val wave = if (k % 2 == 0) math.sin(phase) else math.cos(phase)
    val v = 23 + 2 * wave + (unit(seed, k.toLong << 32 | (i & 0xffffffffL), 4) - 0.5)
    decimal(v)
  }

  def decimal(v: Double): String =
    java.math.BigDecimal.valueOf(v)
      .setScale(2, java.math.RoundingMode.HALF_EVEN).toPlainString

  /** Zipf(s) over `n` keys: cumulative weights for inverse-CDF sampling. */
  final class Zipf(n: Int, s: Double) {
    private val cdf = {
      val w = (1 to n).map(r => 1.0 / math.pow(r, s))
      val total = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / total).toArray
    }
    def sample(u: Double): Int = {
      val i = java.util.Arrays.binarySearch(cdf, u)
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }

  /** One live event as the generator stamps it: `ts` is its creation
    * time in ms from the stream's start; `batch` is the micro-batch it is
    * delivered in. */
  final case class Event(ts: Long, sensor: Int, value: String, batch: Long)

  val LateBatches = 2L

  /** Events created during batch interval `k` ([k·B, (k+1)·B)) at
    * `perBatch` events per interval, evenly spaced. Batch k is delivered
    * at the end of interval k. A seeded share `lateShare` of events is
    * held back two batches: it arrives after the fire whose window first
    * covers it, so the engine's no-retraction semantics decide where it
    * counts. */
  def liveInterval(seed: Long, k: Long, batchMs: Long, perBatch: Int,
      zipf: Zipf, lateShare: Double): Seq[Event] =
    (0 until perBatch).map { j =>
      val ts = k * batchMs + j * batchMs / perBatch
      val idx = k * 1000003L + j
      val sensorK = zipf.sample(unit(seed, idx, 5))
      val late = unit(seed, idx, 6) < lateShare
      Event(ts, sensorK, reading(seed, sensorK, idx), if (late) k + LateBatches else k)
    }
}

/** A plain quad, independent of the engine's event type. */
final case class Quad(ts: Long, s: String, p: String, o: String, g: String)
