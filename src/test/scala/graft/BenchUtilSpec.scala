package graft

import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers

/** The query name check the dev mains run before they build a session: a
  * misspelled name must fail loudly instead of filtering to nothing. */
class BenchUtilSpec extends AnyFlatSpec with Matchers {

  "BenchUtil.requireQueries" should "accept known query names" in {
    noException should be thrownBy BenchUtil.requireQueries(Seq("q08_dedup_clusters", "q72_pq_ann_topk"))
    noException should be thrownBy BenchUtil.requireQueries(SparkEntry.queries.keys)
  }

  it should "throw naming the unknown name and the valid ones" in {
    val e = the[IllegalArgumentException] thrownBy
      BenchUtil.requireQueries(Seq("q08_dedup_clusters", "q99_no_such_query"))
    e.getMessage should include("unknown query name(s): q99_no_such_query;")
    e.getMessage should include("valid queries: ")
    e.getMessage should include("q72_pq_ann_topk")
  }
}
