package graft.pipeline

import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers
import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.expr
import graft.SparkTestBase
import graft.images.SyntheticImages
import java.util.concurrent.atomic.AtomicInteger

/** Job budgets for one untraced full run and one import: a Spark job costs
  * tens of ms of fixed driver and scheduler time at any input size, so a
  * stage that quietly adds a probe or a broadcast shows here first. */
class JobBudgetSpec extends AnyFlatSpec with Matchers with SparkTestBase {

  /** Jobs of one warm `runDirect` at n = 2,000 (seed 42) in the test
    * session, output included; the count repeats exactly from run to run. */
  val Budget = 23
  /** The same count with three separately salted blocking passes and
    * broadcast star joins in connected components. */
  val ThreePassJobs = 36

  /** Jobs of one warm `IncrementalImageDedup.runDirect` at n = 2,000
    * (seed 42; corpus = id % 20 < 10, delta = the rest) in the test session,
    * output included, with the prior clustering made beforehand; the count
    * repeats exactly from run to run. */
  val ImportBudget = 52
  /** The same count with the cross leg blocked as three separate salted
    * cross joins, one per scheme. */
  val ThreeCrossJoinJobs = 66

  private def jobsOf(run: => DataFrame): Int = {
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    ListenerBusDrain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      run.write.format("noop").mode("overwrite").save()
      ListenerBusDrain(spark.sparkContext)
      jobs.get()
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  private def jobsOfOneRun(): Int = releasing {
    val input = SyntheticImages.generate(spark, 2000L, 42L).toDF().localCheckpoint()
    jobsOf(ImageDedupPipeline.runDirect(spark, input))
  }

  private def jobsOfOneImport(): Int = releasing {
    val all = SyntheticImages.generate(spark, 2000L, 42L).toDF()
    val idNum = expr("cast(substring(image_id, 5) as bigint)")
    val corpus = all.where(idNum % 20 < 10).localCheckpoint()
    val delta = all.where(idNum % 20 >= 10).localCheckpoint()
    val corpusClusters = ImageDedupPipeline.runDirect(spark, corpus).localCheckpoint()
    jobsOf(IncrementalImageDedup.runDirect(spark, corpus, corpusClusters, delta))
  }

  "one full run" should s"take at most $Budget Spark jobs" in {
    jobsOfOneRun() // warm-up
    val jobs = jobsOfOneRun()
    info(s"$jobs jobs")
    withClue(s"$jobs jobs against a budget of $Budget (three blocking passes took $ThreePassJobs): ") {
      jobs should be <= Budget
    }
  }

  "one import" should s"take at most $ImportBudget Spark jobs" in {
    jobsOfOneImport() // warm-up
    val jobs = jobsOfOneImport()
    info(s"$jobs jobs")
    withClue(s"$jobs jobs against a budget of $ImportBudget " +
        s"(three cross joins took $ThreeCrossJoinJobs): ") {
      jobs should be <= ImportBudget
    }
  }
}
