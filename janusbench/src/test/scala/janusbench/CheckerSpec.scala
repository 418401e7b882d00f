package janusbench

import graft.api.{JanusApi, QueryRegistry}

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The benchmark's checker must count a wrong answer as a failed
  * operation, never as a pass: a corrupted aggregate, a missing alert and
  * a timed-out query each show up in `failed`. */
class CheckerSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[1]")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val fire = Expected.Fire(close = 400L, count = 3, sum = 69.5,
    max = 24.0, lastTs = 399L)

  private def liveResult(b: Map[String, String]) =
    (JanusApi.QueryResult("q", fire.close, JanusApi.ResultSource.Live, Seq(b)), 0L)

  private val right = Map("n" -> "3", "sum" -> "69.5", "max" -> "24.0")

  test("a right live aggregate passes") {
    val ops = new Ops
    Live.checkResults(ops, Seq(fire), Seq(liveResult(right)), dropped = 0)
    assert(ops.attemptedCount === 1 && ops.failedCount === 0)
  }

  test("a corrupted live aggregate is a failed operation") {
    val ops = new Ops
    Live.checkResults(ops, Seq(fire),
      Seq(liveResult(right.updated("sum", "69.6"))), dropped = 0)
    assert(ops.failedCount === 1)
  }

  test("a corrupted historical aggregate is a failed operation") {
    val h = Gen.History(quads = 1000, startTs = 0, stepMs = 10)
    val ix = new Expected.HistoryIndex(7, h)
    val q = Historical.Query(Historical.AgeStats, 0, 5000)
    val (n, avg) = ix.ages(q.start, q.end)
    val good = Seq(Seq(Map("n" -> n.toString, "avg" -> avg.toString)))
    val bad = Seq(Seq(Map("n" -> n.toString, "avg" -> (avg + 0.5).toString)))
    assert(Historical.check(ix, q, good).isEmpty)
    assert(Historical.check(ix, q, bad).nonEmpty)
  }

  test("a missing alert is a failed operation") {
    val expected = Set(("s1", "61.00"), ("s2", "62.00"))
    val mean: String => Option[Double] = _ => Some(23.0)
    val ops = new Ops
    Hybrid.countAlerts(ops, expected,
      Seq(Map("sensor" -> "s1", "live" -> "61.00", "mean" -> "23")), mean)
    assert(ops.attemptedCount === 2 && ops.failedCount === 1)
    val all = new Ops
    Hybrid.countAlerts(all, expected, expected.toSeq.map { case (s, v) =>
      Map("sensor" -> s, "live" -> v, "mean" -> "23") }, mean)
    assert(all.failedCount === 0)
  }

  test("a live result that never arrives, or is dropped, is a failure") {
    val ops = new Ops
    Live.checkResults(ops, Seq(fire), Nil, dropped = 2)
    assert(ops.failedCount === 2)
  }

  test("a timed-out query is a failed operation") {
    val gate = new java.util.concurrent.CountDownLatch(1)
    // a log whose read never returns in time: the query cannot answer
    val api = new JanusApi(spark, new QueryRegistry(), _ => {
      gate.await()
      spark.emptyDataFrame
    }, () => 0L)
    val ops = new Ops
    val text = Historical.Query(Historical.AgeStats, 0, 10).text
    try ops.run("query") {
      Janus.historicalQuery(api, text, batches = 1, timeoutMs = 200)
      None
    } finally gate.countDown()
    assert(ops.attemptedCount === 1 && ops.failedCount === 1)
  }

  test("the live model fires once per step over what was delivered") {
    val m = new Expected.LiveModel(rangeMs = 1000, stepMs = 200)
    def ev(ts: Long, v: String) = Gen.Event(ts, 0, v, 0)
    assert(m.deliver(Seq(ev(10, "1.00"), ev(150, "2.00"))).isEmpty)
    val fired = m.deliver(Seq(ev(250, "4.00")))
    assert(fired === Seq(Expected.Fire(200, 2, 3.0, 2.0, 150)))
    // a late event below the fired close is not retracted into that
    // fire, but counts in the next window whose range holds it
    val next = m.deliver(Seq(ev(100, "8.00"), ev(410, "1.00")))
    assert(next === Seq(Expected.Fire(400, 4, 15.0, 8.0, 250)))
  }
}
