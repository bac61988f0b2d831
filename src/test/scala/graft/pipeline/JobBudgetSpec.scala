package graft.pipeline

import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers
import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import graft.SparkTestBase
import graft.images.SyntheticImages
import java.util.concurrent.atomic.AtomicInteger

/** A job budget for one untraced full run: a Spark job costs tens of ms of
  * fixed driver and scheduler time at any input size, so a stage that
  * quietly adds a probe or a broadcast shows here first. */
class JobBudgetSpec extends AnyFlatSpec with Matchers with SparkTestBase {

  /** Jobs of one warm `runDirect` at n = 2,000 (seed 42) in the test
    * session, output included; the count repeats exactly from run to run. */
  val Budget = 23
  /** The same count with three separately salted blocking passes and
    * broadcast star joins in connected components. */
  val ThreePassJobs = 36

  private def jobsOfOneRun(): Int = releasing {
    val input = SyntheticImages.generate(spark, 2000L, 42L).toDF().localCheckpoint()
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    ListenerBusDrain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      ImageDedupPipeline.runDirect(spark, input).write.format("noop").mode("overwrite").save()
      ListenerBusDrain(spark.sparkContext)
      jobs.get()
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  "one full run" should s"take at most $Budget Spark jobs" in {
    jobsOfOneRun() // warm-up
    val jobs = jobsOfOneRun()
    info(s"$jobs jobs")
    withClue(s"$jobs jobs against a budget of $Budget (three blocking passes took $ThreePassJobs): ") {
      jobs should be <= Budget
    }
  }
}
