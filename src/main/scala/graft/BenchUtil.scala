package graft

import org.apache.spark.sql.SparkSession

/** What the non-frozen mains share: their one session factory, the query
  * name check and filesystem hygiene. */
object BenchUtil {

  /** Local cores of a main's session: `SPARK_GRAFT_CPUS`, else every core
    * the JVM sees, so the default fits the host it runs on. */
  def hostCores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** The session of every non-frozen main: `local[hostCores]`, one
    * shuffle partition per core, UTC, no UI, WARN logs. After a `stop()`
    * the next call builds a fresh session. */
  def session(appName: String): SparkSession = {
    val cores = hostCores
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Throws if any of `names` is not a query of [[SparkEntry.queries]],
    * naming the unknown ones and listing the valid ones. */
  def requireQueries(names: Iterable[String]): Unit = {
    val unknown = names.toSet -- SparkEntry.queries.keySet
    if (unknown.nonEmpty) throw new IllegalArgumentException(
      s"unknown query name(s): ${unknown.toSeq.sorted.mkString(", ")}; " +
        s"valid queries: ${SparkEntry.queries.keys.toSeq.sorted.mkString(", ")}")
  }

  def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete(); ()
  }

}
