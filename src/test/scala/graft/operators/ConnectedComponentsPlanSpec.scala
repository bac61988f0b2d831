package graft.operators

import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers
import org.apache.spark.ListenerBusDrain
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import graft.SparkTestBase
import scala.collection.mutable

/** Connected components' physical plans: every join is a shuffle join at
  * any input size (no broadcast AQE could flip sides on), so the plans of
  * two runs over one graph are equal once ids are stripped. */
class ConnectedComponentsPlanSpec extends AnyFlatSpec with Matchers with SparkTestBase {
  import spark.implicits._

  /** Executed plans of every query `body` runs, in order, with expression,
    * plan, stage and RDD ids stripped. */
  private def executedPlans(body: => Unit): Seq[String] = {
    val plans = mutable.ArrayBuffer.empty[String]
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        plans.synchronized { plans += qe.executedPlan.toString }
      def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    ListenerBusDrain(spark.sparkContext)
    spark.listenerManager.register(listener)
    try { body; ListenerBusDrain(spark.sparkContext) }
    finally spark.listenerManager.unregister(listener)
    plans.synchronized(plans.toSeq).map(_
      .replaceAll("#\\d+", "#")
      .replaceAll("(plan_id|id)=#?\\d+", "$1=")
      .replaceAll("\\*\\(\\d+\\)", "*")
      .replaceAll("\\b(rdd|RDD)(_|\\[)\\d+", "$1$2")
      .replaceAll("(QueryStage|Exchange) \\d+", "$1"))
  }

  private def clusters(): Unit = releasing {
    // two chains joined by a cross edge, a triangle and singletons: several rounds
    val edges = ((1L until 30L).map(i => (i, i + 1)) ++ (40L until 55L).map(i => (i + 1, i)) ++
      Seq((15L, 47L), (60L, 61L), (61L, 62L), (62L, 60L))).toDF("a", "b")
    val nodes = (1L to 70L).toDF("id")
    ConnectedComponents.run(spark, edges, Some(nodes)).collect()
  }

  "ConnectedComponents" should "plan no broadcast, and equal plans in two runs" in {

    val first = executedPlans(clusters())
    val second = executedPlans(clusters())
    first should not be empty
    all(first) should not include "Broadcast"
    second shouldBe first
  }
}
