package graft.pipeline

import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.SparkTestBase
import graft.config.GoldenConfig._
import graft.images.SyntheticImages
import graft.operators.{MinHashLsh, SkewSalting, TextAnalysis}
import ImageDedupPipeline._
import java.nio.file.Files

/** The one blocking stage and what it hands to connected components:
  * each scheme of the fused self-join, and of the import's fused cross
  * join, yields exactly its standalone pairs, and the edges s7 clusters
  * are canonical (distinct, a < b), as its `edgesCanonical` call assumes. */
class BlockingStageSpec extends AnyFlatSpec with Matchers with SparkTestBase {

  private def pairs(df: DataFrame): Set[(String, String)] =
    df.select("a", "b").collect().map(r => (r.getString(0), r.getString(1))).toSet

  private def served(store: StageStore, name: String): DataFrame =
    store.stage(name)(sys.error(s"stage '$name' was not committed"))

  "the blocking stage" should "yield each scheme's standalone pairs" in releasing {
    val ann = annotate(SyntheticImages.generate(spark, 2000L, 42L).toDF()).localCheckpoint()
    val capReps = capRepsOf(ann)
    val staged = new StageCheckpoint(spark, Files.createTempDirectory("graft_blocking").toString)
    candidates(ann, staged)
    val fused = served(staged, "s3_candidate_pairs")
    def scheme(code: Int) = pairs(fused.where(col("scheme") === code))
    val lsh = pairs(MinHashLsh.candidatePairs(MinHashLsh.bands(
      MinHashLsh.signaturesFromText(capReps, "cid", "caption"))))
    val lgram = pairs(TextAnalysis.substringPairs(capReps, "cid", "caption"))
    val phash = pairs(SkewSalting.selfJoinPairs(phashChunks(repsOf(ann), col("cid")),
      Seq("bucket"), "id", SaltCap, SaltFanout))
    Seq(lsh, lgram, phash).foreach(_ should not be empty)
    scheme(LshScheme) shouldBe lsh
    scheme(LGramScheme) shouldBe lgram
    scheme(PhashScheme) shouldBe phash
    fused.count() shouldBe lsh.size + lgram.size + phash.size
  }

  "the import's cross leg" should "yield each scheme's standalone cross pairs" in releasing {
    val all = SyntheticImages.generate(spark, 2000L, 42L).toDF()
    val idNum = expr("cast(substring(image_id, 5) as bigint)")
    val corpus = all.where(idNum % 20 < 10).localCheckpoint()
    val delta = all.where(idNum % 20 >= 10).localCheckpoint()
    val staged = new StageCheckpoint(spark, Files.createTempDirectory("graft_cross").toString)
    IncrementalImageDedup.run(spark, corpus, ImageDedupPipeline.runDirect(spark, corpus),
      delta, staged, "b1").count()
    val annC = served(staged, "inc_corpus_annotated")
    val annD = served(staged, "b1_inc_delta_annotated")
    val fused = served(staged, "b1_inc_cross_pairs")
    def scheme(code: Int) = pairs(fused.where(col("scheme") === code))
    def bands(ann: DataFrame) =
      MinHashLsh.bands(MinHashLsh.signaturesFromText(capRepsOf(ann), "cid", "caption"))
    def grams(ann: DataFrame) = TextAnalysis.gramTable(capRepsOf(ann), "cid", "caption")
    def chunks(ann: DataFrame) = phashChunks(repsOf(ann), col("caption"))
    val lsh = pairs(MinHashLsh.candidatePairsAgainst(bands(annC), bands(annD)))
    val lgram = pairs(SkewSalting.crossJoinPairs(grams(annC), grams(annD),
      Seq("gram_hash"), "id", SaltCap, SaltFanout))
    val phash = pairs(SkewSalting.crossJoinPairs(chunks(annC), chunks(annD),
      Seq("bucket"), "id", SaltCap, SaltFanout))
    Seq(lsh, lgram, phash).foreach(_ should not be empty)
    scheme(LshScheme) shouldBe lsh
    scheme(LGramScheme) shouldBe lgram
    scheme(PhashScheme) shouldBe phash
    fused.count() shouldBe lsh.size + lgram.size + phash.size
  }

  "the clustering stage's input" should "be distinct with a < b in every row" in {
    for (seed <- Seq(42L, 7L)) withClue(s"seed $seed: ") { releasing {
      val input = SyntheticImages.generate(spark, 2000L, seed).toDF().localCheckpoint()
      val store = new StageCheckpoint(spark, Files.createTempDirectory("graft_s7_input").toString)
      ImageDedupPipeline.run(spark, input, store).count()
      val edges = served(store, "s6_verified_edges").select("a", "b")
        .unionByName(served(store, "s1_star_edges").select("a", "b"))
        .localCheckpoint()
      val rows = edges.count()
      rows should be > 0L
      edges.distinct().count() shouldBe rows
      edges.where(col("a") >= col("b")).count() shouldBe 0L
    }}
  }
}
