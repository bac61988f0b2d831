package graft
import org.apache.spark.sql.SparkSession

/** Dev-only planning-cost probe (guide §1: measure first): reports Spark's
  * own QueryPlanningTracker phase times (parsing/analysis/optimization/
  * planning) plus wall clock for construction and execution of selected
  * queries — separates driver-side plan cost from executor work, the split
  * the sub-second query floor is made of.
  * Usage: tools/run_main.sh graft.PlanPhases [sfDir] [query...]
  */
object PlanPhases {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = if (args.length > 1) args.drop(1).toSet
      else Set("q64_gopher_rules", "q71_zorder", "q53_balanced_mix")
    val unknown = names -- SparkEntry.queries.keySet
    if (unknown.nonEmpty) {
      System.err.println(s"unknown query name(s): ${unknown.toSeq.sorted.mkString(", ")}; " +
        s"valid queries: ${SparkEntry.queries.keys.toSeq.sorted.mkString(", ")}")
      sys.exit(2)
    }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val qs = SparkEntry.queries.filter { case (n, _) => names(n) }
    // warmup (JIT, codegen, parquet footers)
    qs.foreach { case (_, fn) =>
      fn(spark, dir).write.mode("overwrite").format("noop").save() }
    for ((name, fn) <- qs; rep <- 1 to 3) {
      val t0 = System.nanoTime()
      val df = fn(spark, dir) // query construction (may run probe jobs)
      val t1 = System.nanoTime()
      df.write.mode("overwrite").format("noop").save()
      val t2 = System.nanoTime()
      val phases = df.queryExecution.tracker.phases
        .map { case (p, s) => f"$p=${s.endTimeMs - s.startTimeMs}%dms" }
        .mkString(" ")
      println(f"$name#$rep construct=${(t1 - t0) / 1e6}%.0fms " +
        f"exec=${(t2 - t1) / 1e6}%.0fms  $phases")
    }
    spark.stop()
  }
}
