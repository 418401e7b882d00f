package janusbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** The per-layer metrics a traced run reports. Every traced run reports
  * all of them; a layer that does no work on a workload reports 0. Per
  * request values are medians over the workload's traced requests (an
  * ON LOG query, or a replayed live fire). */
object Layers {
  /** Names and units of the per-layer metrics, read from the
    * `per_layer` list of BENCHMARK.json in the working directory (the
    * repository root), so the list has one source. */
  lazy val Units: Seq[(String, String)] = {
    val spec = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new java.io.File("BENCHMARK.json"))
    spec.get("per_layer").elements().asScala
      .map(m => m.get("name").asText -> m.get("unit").asText).toSeq
  }

  /** Metric values a traced run collects; unset ones report 0. */
  final class Values {
    private val vs = mutable.LinkedHashMap.empty[String, Double]
    def update(name: String, v: Double): Unit = {
      require(Units.exists(_._1 == name), s"unknown layer metric $name")
      vs(name) = v
    }
    def metrics: Seq[(String, Metric)] =
      Units.map { case (n, u) => n -> Metric(vs.getOrElse(n, 0.0), u) }
  }

  /** Per-request Spark and layer numbers over traced request spans. */
  def fromRequests(tr: Tracer, requestName: String, v: Values): Unit = {
    val all = tr.spans
    val reqs = all.filter(_.name == requestName)
    if (reqs.nonEmpty) {
      def perReq(layer: String): Seq[Double] = reqs.map { r =>
        all.filter(s => s.request == r.request && s.name == layer)
          .map(_.durMs).sum
      }
      val costs = reqs.map(r => r -> tr.cost(r, all))
      v("janusql.parse_ms") = Stats.median(perReq("janusql.parse"))
      v("sparql.compile_ms") = Stats.median(perReq("sparql.compile"))
      v("spark.plan_ms") = Stats.median(perReq("spark.plan"))
      v("storage.read_open_ms") = Stats.median(perReq("storage.read_open"))
      v("historical.exec_s") = Stats.median(perReq("historical.exec")) / 1000
      v("spark.jobs") = Stats.median(costs.map(_._2.jobs.toDouble))
      v("spark.stages") = Stats.median(costs.map(_._2.stages.toDouble))
      v("spark.tasks") = Stats.median(costs.map(_._2.tasks.toDouble))
      v("spark.exec_busy_s") = Stats.median(costs.map(_._2.busyS))
      v("spark.job_wall_s") = Stats.median(costs.map(_._2.jobWallMs / 1000))
      v("spark.driver_gap_s") = Stats.median(costs.map { case (r, c) =>
        math.max(0.0, r.durMs - c.jobWallMs) / 1000 })
      v("spark.shuffle_bytes") = Stats.median(costs.map(_._2.shuffleBytes.toDouble))
      v("spark.spill_bytes") = Stats.median(costs.map(_._2.spillBytes.toDouble))
      v("storage.scan_bytes") = Stats.median(costs.map(_._2.inputBytes.toDouble))
      v("trace.request_self_ms") = Stats.median(reqs.map(r => tr.selfMs(r, all)))
    }
  }
}
