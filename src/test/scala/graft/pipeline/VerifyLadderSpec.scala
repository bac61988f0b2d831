package graft.pipeline

import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers
import org.apache.spark.sql.{DataFrame, functions => F}
import org.apache.spark.sql.functions._
import graft.SparkTestBase
import graft.config.GoldenConfig._
import graft.images.SyntheticImages
import graft.operators.SkewSalting
import ImageDedupPipeline._
import java.nio.file.Files

/** The verify ladder decides the caption criterion once per caption pair
  * and the image criterion once per rep row pair. The reference here is
  * the per-row-pair ladder it replaced: every candidate pair is first
  * expanded to rep rows, each row carries its caption's hash arrays, and
  * caption equality OR Jaccard OR a shared L-gram is tested per row pair.
  * Both must verify the same edges from the same staged candidates. */
class VerifyLadderSpec extends AnyFlatSpec with Matchers with SparkTestBase {

  /** Per-row-pair ladder over row-level candidates `cand` (a, b). */
  private def referenceLadder(cand: DataFrame, capt: DataFrame, shByRow: DataFrame,
                              bytesTbl: DataFrame): DataFrame = {
    def meta(side: String) = capt.select(col("image_id").as(side), col("caption").as(s"cap_$side"),
      col("bytes_hash").as(s"bh_$side"), col("phash").as(s"ph_$side"))
    def hashes(side: String) = shByRow.select(col("image_id").as(side),
      col("shingles").as(s"sh_$side"), col("grams").as(s"gr_$side"))
    val withMeta = cand.join(meta("a"), "a").join(meta("b"), "b")
      .join(hashes("a"), Seq("a"), "left").join(hashes("b"), Seq("b"), "left")
    val interSz = F.size(array_intersect(col("sh_a"), col("sh_b"))).cast("long")
    val captionOk = (col("cap_a") === col("cap_b")) ||
      (col("sh_a").isNotNull && col("sh_b").isNotNull &&
        graft.functions.TextHash.jaccardGe(interSz,
          F.size(col("sh_a")).cast("long"), F.size(col("sh_b")).cast("long"))) ||
      coalesce(arrays_overlap(col("gr_a"), col("gr_b")), lit(false))
    val bytes = bytesTbl.select(col("image_id"), col("bytes"))
    withMeta.where(captionOk)
      .withColumn("bytes_eq", col("bh_a") === col("bh_b"))
      .where(col("bytes_eq") || expr(s"bit_count(ph_a ^ ph_b) <= $HammingMax"))
      .join(bytes.select(col("image_id").as("a"), col("bytes").as("bytes_a")), "a")
      .join(bytes.select(col("image_id").as("b"), col("bytes").as("bytes_b")), "b")
      .where(col("bytes_eq") || psnrUdf(col("bytes_a"), col("bytes_b")) >= PsnrMinDb)
      .select(col("a"), col("b"))
  }

  /** (image_id, shingles, grams): each rep row with its caption's arrays. */
  private def byRow(members: DataFrame, sh: DataFrame): DataFrame =
    members.join(sh.select(col("id").as("cid"), col("shingles"), col("grams")), "cid")
      .select(col("image_id"), col("shingles"), col("grams"))

  private def capt(ann: DataFrame): DataFrame =
    repsOf(ann).select(col("image_id"), col("caption"), col("bytes_hash"), col("phash"))

  private def edges(df: DataFrame): Set[(String, String)] =
    df.select("a", "b").collect().map(r => (r.getString(0), r.getString(1))).toSet

  private def served(store: StageStore, name: String): DataFrame =
    store.stage(name)(sys.error(s"stage '$name' was not committed"))

  /** (caption-id pairs, rep row pairs) of a staged candidate table. */
  private def schemePairs(pairs: DataFrame): (DataFrame, DataFrame) =
    (pairs.where(col("scheme") =!= PhashScheme).select("a", "b"),
      pairs.where(col("scheme") === PhashScheme).select("a", "b"))

  "the verify ladder" should "verify the per-row-pair ladder's edges in a full run" in {
    for (seed <- Seq(42L, 7L)) withClue(s"seed $seed: ") { releasing {
      val input = SyntheticImages.generate(spark, 2000L, seed).toDF().localCheckpoint()
      val store = new StageCheckpoint(spark, Files.createTempDirectory("graft_ladder").toString)
      ImageDedupPipeline.run(spark, input, store).count()
      def st(name: String) = served(store, name)
      val ann = st("s1_annotated")
      val members = membersOf(ann)
      val (capPairs, samePairs) = schemePairs(st("s3_candidate_pairs"))
      val cand = expand(capPairs, members, members)
        .unionByName(samePairs)
        .dropDuplicates("a", "b")
      val want = edges(referenceLadder(cand, capt(ann), byRow(members, st("s2_shingles")),
        input.select(col("image_id"), col("bytes"))))
      want should not be empty
      edges(st("s6_verified_edges")) shouldBe want
    }}
  }

  it should "verify the per-row-pair ladder's edges in an import (cross and delta legs)" in releasing {
    // a random split puts classes across the boundary (cross legs) and
    // inside the delta (delta×delta leg)
    val all = SyntheticImages.generate(spark, 2000L).toDF().localCheckpoint()
    val inDelta = pmod(xxhash64(col("image_id"), lit(3)), lit(4L)) === 0L
    val corpus = all.where(!inDelta).localCheckpoint()
    val delta = all.where(inDelta).localCheckpoint()
    val store = new StageCheckpoint(spark, Files.createTempDirectory("graft_ladder_inc").toString)
    IncrementalImageDedup.run(spark, corpus, ImageDedupPipeline.runDirect(spark, corpus),
      delta, store, "v1").count()
    def st(name: String) = served(store, name)
    val (annC, annD) = (st("inc_corpus_annotated"), st("v1_inc_delta_annotated"))
    val (memberC, memberD) = (membersOf(annC), membersOf(annD))
    val (capSelfD, sameSelfD) = schemePairs(st("v1_s3_candidate_pairs"))
    val phCross = SkewSalting.crossJoinPairs(st("inc_corpus_phchunks"),
        phashChunks(repsOf(annD), col("caption")), Seq("bucket"), "id", SaltCap, SaltFanout)
      .select(least(col("a"), col("b")).as("a"), greatest(col("a"), col("b")).as("b"))
    val cand = expand(st("v1_inc_cap_cross_pairs"), memberC, memberD)
      .unionByName(phCross)
      .unionByName(expand(capSelfD, memberD, memberD))
      .unionByName(sameSelfD)
      .dropDuplicates("a", "b")
    val want = edges(referenceLadder(cand, capt(annC).unionByName(capt(annD)),
      byRow(memberC, st("inc_corpus_shingles")).unionByName(byRow(memberD, st("v1_inc_delta_shingles"))),
      corpus.select(col("image_id"), col("bytes")).unionByName(delta.select(col("image_id"), col("bytes")))))

    val deltaIds = delta.select("image_id").collect().map(_.getString(0)).toSet
    val inDeltaCount = want.toSeq.map { case (a, b) => Seq(a, b).count(deltaIds) }.toSet
    inDeltaCount shouldBe Set(1, 2) // both legs verify edges
    edges(st("v1_inc_verified_edges")) shouldBe want
  }
}
