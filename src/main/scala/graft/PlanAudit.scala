package graft

/** Prints formatted physical plans for the flagship queries so scan pruning
  * (ReadSchema), pushed filters, join strategies and exchange counts can be
  * audited — the "is this the plan you'd want at 100 TB" check. An unknown
  * query name exits 2 and lists the valid ones.
  * Usage: tools/run_main.sh graft.PlanAudit [sfDir] [query...] */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.drop(1).toSet else
      Set("q06_lsh_pairs", "q08_dedup_clusters", "q17_ann_topk", "q20_join_revenue",
        "q12_substring_pairs", "q30_blocking_schemes", "q36_embedding_near_dup",
        "q37_ann_banded_topk", "q40_ann_ivf_topk", "q41_cross_dedup_pairs",
        "q67_phash_pairs", "q68_asof_join", "q72_pq_ann_topk", "q73_range_join")
    try BenchUtil.requireQueries(names)
    catch { case e: IllegalArgumentException =>
      System.err.println(e.getMessage)
      sys.exit(2)
    }
    val spark = BenchUtil.session("graft-plan-audit")
    spark.sparkContext.setLogLevel("ERROR")
    for ((name, fn) <- SparkEntry.queries if names(name)) {
      println(s"\n================ $name ================")
      fn(spark, dir).explain("formatted")
    }
    spark.stop()
  }
}
