package graft.pipeline

import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers
import org.apache.spark.sql.functions._
import graft.SparkTestBase
import java.nio.file.Files

/** Drives the catalog/Iceberg-path checkpoint against the built-in session
  * catalog (no Iceberg jar in this sandbox — same writeTo/tableExists code
  * path, different catalog + format string on a real cluster). */
class CatalogStageCheckpointSpec extends AnyFlatSpec with Matchers with SparkTestBase {
  import spark.implicits._

  private def freshNs(tag: String): (String, String) = {
    val loc = Files.createTempDirectory(s"graft_cat_$tag").toString
    (s"graft_ck_$tag", loc)
  }

  "CatalogStageCheckpoint" should "serve a completed stage from the catalog without recompute" in {
    val (ns, loc) = freshNs("resume")
    try {
      var computes = 0
      def body() = { computes += 1; Seq((1L, "a"), (2L, "b")).toDF("id", "v") }

      val ck1 = new CatalogStageCheckpoint(spark, ns, location = Some(loc))
      val first = ck1.stage("s_test")(body())
      first.count() shouldBe 2
      computes shouldBe 1

      // a NEW checkpoint instance (fresh run) must resume, not recompute
      val ck2 = new CatalogStageCheckpoint(spark, ns, location = Some(loc))
      val second = ck2.stage("s_test")(body())
      computes shouldBe 1
      second.orderBy("id").collect().map(_.getLong(0)) shouldBe Array(1L, 2L)

      // manifest records the stage once; metrics table exists
      ck2.manifest().map(_._1) shouldBe Seq("s_test")
      spark.catalog.tableExists(s"$ns.s_test__metrics") shouldBe true
      val metricRows = spark.table(s"$ns.s_test__metrics")
        .agg(sum("rows")).head().getLong(0)
      metricRows shouldBe 2L
    } finally spark.sql(s"DROP NAMESPACE IF EXISTS $ns CASCADE")
  }

  it should "backfill metrics and manifest when resuming a stage that crashed mid-commit" in {
    val (ns, loc) = freshNs("crash")
    try {
      val ck = new CatalogStageCheckpoint(spark, ns, location = Some(loc))
      // simulate the crash window: the stage table's atomic create()
      // succeeded but the process died before metrics/manifest were written
      Seq((1L, "x"), (2L, "y")).toDF("id", "v")
        .writeTo(s"$ns.s_cr").using("parquet").create()
      ck.manifest() shouldBe Nil

      val out = ck.stage("s_cr") { fail("must not recompute a committed stage"); null }
      out.count() shouldBe 2
      // backfilled: manifest row (wall_ms = -1 marks it) + metrics table
      ck.manifest() shouldBe Seq(("s_cr", 2L, -1L))
      spark.catalog.tableExists(s"$ns.s_cr__metrics") shouldBe true
      // a further resume backfills nothing twice
      val ck2 = new CatalogStageCheckpoint(spark, ns, location = Some(loc))
      ck2.stage("s_cr") { fail("must not recompute"); null }
      ck2.manifest().size shouldBe 1
    } finally spark.sql(s"DROP NAMESPACE IF EXISTS $ns CASCADE")
  }

  it should "run end-to-end on an Iceberg catalog when the runtime jar is present (auto-skipped otherwise)" in {
    val icebergPresent =
      try { Class.forName("org.apache.iceberg.spark.SparkCatalog"); true }
      catch { case _: ClassNotFoundException => false }
    assume(icebergPresent,
      "no Iceberg runtime jar on the classpath (documented env constraint, " +
        "SURVEY §2 B1/B12); drop iceberg-spark-runtime into the jars dir and " +
        "this test exercises the identical writeTo flow with format=iceberg")
    val wh = Files.createTempDirectory("graft_iceberg_wh").toString
    spark.conf.set("spark.sql.catalog.graft_ice", "org.apache.iceberg.spark.SparkCatalog")
    spark.conf.set("spark.sql.catalog.graft_ice.type", "hadoop")
    spark.conf.set("spark.sql.catalog.graft_ice.warehouse", wh)
    val ck = new CatalogStageCheckpoint(spark, "graft_ice.ck", format = "iceberg")
    ck.stage("s_ice") { Seq((1L, "a")).toDF("id", "v") }.count() shouldBe 1
    val ck2 = new CatalogStageCheckpoint(spark, "graft_ice.ck", format = "iceberg")
    var recomputed = false
    ck2.stage("s_ice") { recomputed = true; Seq((1L, "a")).toDF("id", "v") }
    recomputed shouldBe false
    ck2.manifest().map(_._1) shouldBe Seq("s_ice")
  }

  it should "run the full image dedup pipeline with catalog-table stages" in {
    val (ns, loc) = freshNs("pipe")
    try {
      val input = graft.images.SyntheticImages.generate(spark, 300L).toDF()
        .localCheckpoint()
      val ck = new CatalogStageCheckpoint(spark, ns, location = Some(loc))
      val clusters = ImageDedupPipeline.run(spark, input, ck)
      clusters.count() shouldBe 300L

      // same result as the parquet-checkpoint path
      val dir = Files.createTempDirectory("graft_pq").toString
      val pq = ImageDedupPipeline.run(spark, input, new StageCheckpoint(spark, dir))
      clusters.orderBy("image_id").collect().toSeq shouldBe
        pq.orderBy("image_id").collect().toSeq

      // every stage is a catalog table; resume run touches no stage body
      ck.manifest().map(_._1) should contain("s7_clusters")
      val ck2 = new CatalogStageCheckpoint(spark, ns, location = Some(loc))
      var recomputed = false
      val resumed = ck2.stage("s7_clusters") {
        recomputed = true
        clusters
      }
      recomputed shouldBe false
      resumed.count() shouldBe 300L
    } finally spark.sql(s"DROP NAMESPACE IF EXISTS $ns CASCADE")
  }
}
