package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole test run (sbt forks one JVM). */
object SparkTestSession {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

trait SparkTestBase {
  lazy val spark: SparkSession = SparkTestSession.spark

  /** Runs `body`, then unpersists every RDD it persisted (checkpointed
    * inputs and a pipeline's checkpointed intermediates), so the blocks of
    * a large run do not stay on the shared session's heap for later suites. */
  def releasing[T](body: => T): T = {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    try body
    finally spark.sparkContext.getPersistentRDDs
      .collect { case (id, rdd) if !before(id) => rdd }
      .foreach(_.unpersist(blocking = true))
  }
}
