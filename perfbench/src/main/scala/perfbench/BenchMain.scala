package perfbench

/** Entry point of one benchmark run (launched by `perfbench/run.py`).
  * Prints one line `PERFBENCH <json>` with the run's report; the exit code
  * is 0 only when every op succeeded and every output check passed. */
object BenchMain {
  def main(args: Array[String]): Unit = {
    val o = Opts.parse(args)
    val r = new Report(o.workload)
    o.workload match {
      case "ops_suite" => OpsSuite.run(o, r)
      case "dedup_full" => Dedup.full(o, r)
    }
    val ctl = (1 to 3).map(_ => Probes.hostControlSeconds())
    r.info("host.ctl_s") = Json.num(Stats.median(ctl))
    if (o.trace) r.perLayer("host.ctl_s") = Metric(Stats.median(ctl), "s", ctl.size)
    r.info("spark_version") = Json.str(org.apache.spark.SPARK_VERSION)
    println("PERFBENCH " + r.json)
    System.out.flush()
    sys.exit(if (r.failed == 0) 0 else 1)
  }
}
