package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.images.SyntheticImages
import graft.pipeline.{ImageDedupPipeline, StageCheckpoint}

/** spark-submit entry for the flagship dedup job (SURVEY §3.2):
  * builds (or resumes) the synthetic input_hint table, runs the
  * checkpointed pipeline, and reports dup-pair recall / precision vs the
  * planted truth plus the per-row invariant (payload pass-through).
  *
  * Usage: graft.Main [nRows] [baseDir] [--fresh]
  */
object Main {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.filter(!_.startsWith("--")).map(_.toLong).getOrElse(20000L)
    val baseDir = args.drop(1).find(!_.startsWith("--")).getOrElse("/tmp/graft_pipeline")
    val fresh = args.contains("--fresh")
    if (fresh) BenchUtil.deleteRecursively(new java.io.File(baseDir))

    val spark = BenchUtil.session("graft-image-dedup")

    val t0 = System.nanoTime()
    val ckpt = new StageCheckpoint(spark, baseDir)
    val input = ckpt.stage("s_gen")(SyntheticImages.generate(spark, n).toDF())
    val clusters = ImageDedupPipeline.run(spark, input, ckpt)
    val wallSec = (System.nanoTime() - t0) / 1e9

    val truth = SyntheticImages.truth(spark, n).toDF()
    val (recall, truePairs, foundPairs) = pairRecall(clusters, truth)
    val (precision, emittedPairs, correctPairs) = pairPrecision(clusters, truth)

    // precision guard: viral "photo" rows must stay singletons
    val viralMerged = clusters.join(
        input.where(col("caption") === "photo of a photo").select(col("image_id")), "image_id")
      .groupBy("cluster_id").count().where(col("count") > 1).count()

    // per-row invariant (input_hint): emitted rows carry payloads through
    // unchanged — clusters join back to input losslessly.
    val rowsOut = clusters.count()
    val invariantOk = rowsOut == n && viralMerged == 0

    val imagesPerSec = n / wallSec
    println(s"""{"job":"image_dedup","n":$n,"wall_sec":$wallSec,"images_per_sec":$imagesPerSec,"dup_pair_recall":$recall,"true_pairs":$truePairs,"found_pairs":$foundPairs,"dup_pair_precision":$precision,"emitted_pairs":$emittedPairs,"correct_pairs":$correctPairs,"viral_merged_clusters":$viralMerged,"invariant_ok":$invariantOk,"resumable_stages":${ckpt.manifest().size}}""")
    spark.stop()
  }

  /** Fraction of planted truth pairs that land in the same cluster. */
  def pairRecall(clusters: DataFrame, truth: DataFrame): (Double, Long, Long) = {
    val c = clusters
    val joined = truth
      .join(c.select(col("image_id").as("a"), col("cluster_id").as("ca")), "a")
      .join(c.select(col("image_id").as("b"), col("cluster_id").as("cb")), "b")
    val total = joined.count()
    val hit = joined.where(col("ca") === col("cb")).count()
    (if (total == 0) 1.0 else hit.toDouble / total, total, hit)
  }

  /** Pair precision of emitted clusters: fraction of same-cluster pairs
    * that are truly duplicates. The planted truth lists (base, dup) edges
    * only, so the TRUE relation is its transitive closure — every truth
    * edge shares the group's base as `a`, so a member's true group id is
    * its truth-`a` (the base maps to itself); a same-cluster pair is
    * correct iff both members carry the same non-null group. Within-cluster
    * pair generation is quadratic per cluster — fine for an eval metric
    * over bounded planted clusters (and the viral guard separately proves
    * no mega-cluster exists to explode it). */
  def pairPrecision(clusters: DataFrame, truth: DataFrame): (Double, Long, Long) = {
    val grp = truth.select(col("b").as("id"), col("a").as("g"))
      .unionByName(truth.select(col("a").as("id"), col("a").as("g")))
      .distinct()
    val c = clusters.select(col("image_id").as("id"), col("cluster_id"))
      .join(grp, Seq("id"), "left")
    val emitted = c.select(col("cluster_id"), col("id").as("pa"), col("g").as("ga"))
      .join(c.select(col("cluster_id"), col("id").as("pb"), col("g").as("gb")), "cluster_id")
      .where(col("pa") < col("pb"))
      .localCheckpoint(false)
    val total = emitted.count()
    val hit = emitted.where(col("ga").isNotNull && col("ga") === col("gb")).count()
    (if (total == 0) 1.0 else hit.toDouble / total, total, hit)
  }
}
