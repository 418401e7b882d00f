package janusbench

/** Entry point: one workload, one seed, one result line.
  *
  * {{{
  * janusbench.Main --workload historical|live|hybrid --seed N
  *   --seconds S --trace 0|1 --work DIR [--cores N]
  * }}}
  *
  * With `--trace 0` the result carries the end-to-end metrics; with
  * `--trace 1` the per-layer metrics of a traced run (spans are written
  * to DIR/spans.jsonl). The process exits 0 once the result is printed,
  * whether or not every answer was right: `correct` and `failed` say so.
  */
object Main {
  def main(argv: Array[String]): Unit = {
    val a = Args.parse(argv)
    val workload: (org.apache.spark.sql.SparkSession, Args, Ops) => Seq[(String, Metric)] =
      a.workload match {
        case "historical" => Historical.run
        case "live"       => Live.run
        case "hybrid"     => Hybrid.run
        case other        => throw new IllegalArgumentException(s"unknown workload $other")
      }
    val spark = Spark.session(a.cores, a.work)
    val code =
      try {
        val ops = new Ops
        val metrics = workload(spark, a, ops)
        println(Result.line(ops.failedCount == 0, ops, metrics))
        0
      } catch {
        case e: Throwable =>
          e.printStackTrace()
          1
      } finally spark.stop()
    System.out.flush()
    // JanusApi's worker threads are daemons, but a stuck non-daemon
    // thread must not keep the run alive past its result
    sys.exit(code)
  }
}
