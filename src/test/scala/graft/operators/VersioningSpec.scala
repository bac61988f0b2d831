package graft.operators

import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers
import graft.SparkTestBase
import java.sql.Timestamp

class VersioningSpec extends AnyFlatSpec with Matchers with SparkTestBase {
  import spark.implicits._

  "Versioning.history" should "cap the version array for a hot entity but keep exact count and current" in {
    val hot = (1 to 500).map(i =>
      (9L, Timestamp.valueOf(f"2020-01-01 00:${i / 60}%02d:${i % 60}%02d"), s"v$i"))
    val df = (hot :+ ((10L, Timestamp.valueOf("2020-01-01 00:00:01"), "solo"))).toDF("entity_id", "ts", "name")
    val got = Versioning.history(df, "entity_id", "ts", "name", maxVersions = 16)
      .collect().map(r => (r.getLong(0),
        r.getSeq[org.apache.spark.sql.Row](1).size, r.getLong(2), r.getString(3))).sortBy(_._1)
    got shouldBe Array((9L, 16, 500L, "v500"), (10L, 1, 1L, "solo"))
  }

  "Versioning.history" should "order versions by ts and expose the current value" in {
    val df = Seq(
      (1L, Timestamp.valueOf("2020-01-02 00:00:00"), "v2"),
      (1L, Timestamp.valueOf("2020-01-01 00:00:00"), "v1"),
      (1L, Timestamp.valueOf("2020-01-03 00:00:00"), "v3"),
      (2L, Timestamp.valueOf("2020-01-01 00:00:00"), "only")
    ).toDF("entity_id", "ts", "name")
    val got = Versioning.history(df, "entity_id", "ts", "name")
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getString(3))).sortBy(_._1)
    got shouldBe Array((1L, 3L, "v3"), (2L, 1L, "only"))
  }

  "Versioning.versionSummary" should "report first/last/current by (ts, tie) order" in {
    val df = Seq(
      (7L, Timestamp.valueOf("2020-01-01 00:00:00"), 100L, "a", 10L),
      (7L, Timestamp.valueOf("2020-01-01 00:00:00"), 101L, "b", 20L), // same ts → tie on id
      (7L, Timestamp.valueOf("2020-02-01 00:00:00"), 50L, "c", 30L)
    ).toDF("user_id", "ts", "event_id", "event_type", "value_c")
    val r = Versioning.versionSummary(df, "user_id", "ts", "event_id",
      Seq("event_type", "value_c")).head()
    r.getAs[Long]("n_versions") shouldBe 3L
    r.getAs[Long]("first_event_id") shouldBe 100L
    r.getAs[Long]("last_event_id") shouldBe 50L   // later ts wins over id
    r.getAs[String]("cur_event_type") shouldBe "c"
    r.getAs[Long]("cur_value_c") shouldBe 30L
  }
}
