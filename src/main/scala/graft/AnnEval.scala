package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.config.GoldenConfig._
import graft.operators.AnnSearch

/** ANN recall/cost evidence harness (round-3 verdict "Next #7"): measures
  * recall@10 against exact brute force, plus candidate volume per query,
  * for the three ANN paths — single-table hyperplane LSH (16 planes),
  * banded multi-table LSH (12 tables × 8 planes), IVF (nlist=16) — on
  *
  *  - three planted-cosine regimes (per-coordinate gaussian noise σ on a
  *    gaussian base ⇒ E[cos] ≈ 1/√(1+σ²)): σ = 0.15 (cos ≈ 0.99, the
  *    production near-dup regime GoldenConfig pins 12×8 for), σ = 0.55
  *    (cos ≈ 0.88), σ = 1.0 (cos ≈ 0.71 — intermediate);
  *  - the driver testdata embeddings (adversarial for sign-bit LSH: max
  *    pairwise cosine 0.47 over a cosine-0 background — documented in
  *    GoldenConfig.AnnBandTables's scaladoc).
  *
  * Writes the table to ANN.md and prints one JSON line.
  * Usage: sbt "runMain graft.AnnEval"  (fast: ~2k-vector corpora)
  */
object AnnEval {

  private val K = 10

  case class Eval(corpus: String, method: String, recall: Double,
                  recallNN1: Double, candPerQuery: Double)

  private def planted(spark: SparkSession, nBase: Int, nDups: Int,
                      sigma: Double): DataFrame = {
    import spark.implicits._
    val rnd = new scala.util.Random(Seed)
    val dim = 32
    val base = (0 until nBase).map(i =>
      (i.toLong, Array.fill(dim)(rnd.nextGaussian().toFloat).toSeq))
    val dups = base.take(nDups).map { case (i, v) =>
      (i + 1000000L, v.map(x => x + sigma.toFloat * rnd.nextGaussian().toFloat))
    }
    (base ++ dups).toDF("id", "vec")
  }

  /** (recall@K pooled over queries: |ANN∩BF|/|BF|; true-NN recall: fraction
    * of queries whose exact rank-1 neighbor appears anywhere in the ANN
    * top-K — the number that matters for DEDUP, where the query's near-dup
    * is the rank-1 neighbor and ranks 2..K are arbitrary-cosine background). */
  private def recallAt(bf: DataFrame, ann: DataFrame): (Double, Double) = {
    val tot = bf.count()
    val a = ann.select("query_id", "neighbor_id")
    val hit = bf.select("query_id", "neighbor_id")
      .join(a, Seq("query_id", "neighbor_id"), "left_semi").count()
    val bf1 = bf.where(col("rank") === 1L)
    val n1 = bf1.count()
    val hit1 = bf1.select("query_id", "neighbor_id")
      .join(a, Seq("query_id", "neighbor_id"), "left_semi").count()
    (if (tot == 0) 0.0 else hit.toDouble / tot,
      if (n1 == 0) 0.0 else hit1.toDouble / n1)
  }

  // candidate volumes (cost proxy) per method, per query
  private def candSingle(c: DataFrame, q: DataFrame): Double = {
    val cb = AnnSearch.lshBuckets(c).withColumnRenamed("id", "neighbor_id")
    val qb = AnnSearch.lshBuckets(q).withColumnRenamed("id", "query_id")
    qb.join(cb, "bucket").where(col("query_id") =!= col("neighbor_id")).count()
      .toDouble / q.count()
  }
  private def candBanded(c: DataFrame, q: DataFrame): Double = {
    val cb = AnnSearch.lshBucketsBanded(c).withColumnRenamed("id", "neighbor_id")
    val qb = AnnSearch.lshBucketsBanded(q).withColumnRenamed("id", "query_id")
    qb.join(cb, Seq("table_idx", "bucket"))
      .where(col("query_id") =!= col("neighbor_id"))
      .select("query_id", "neighbor_id").distinct().count().toDouble / q.count()
  }
  /** Candidate volume of IVF probing against PRECOMPUTED centroids (the
    * same quantizer the recall measurement used — train once, reuse). */
  private def candIvf(cents: DataFrame, c: DataFrame, q: DataFrame, nprobe: Int): Double = {
    val lists = AnnSearch.assignToCentroids(c, cents).withColumnRenamed("id", "neighbor_id")
    val probes = q.crossJoin(broadcast(cents))
      .select(col("id").as("query_id"), col("cid"),
        (AnnSearch.dot(col("vec"), col("cvec")) / AnnSearch.norm(col("vec"))
          / AnnSearch.norm(col("cvec"))).as("score"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("query_id").orderBy(col("score").desc, col("cid"))))
      .where(col("rk") <= nprobe).select("query_id", "cid")
    probes.join(lists, "cid").where(col("query_id") =!= col("neighbor_id"))
      .count().toDouble / q.count()
  }

  private def evalCorpus(name: String, corpus: DataFrame,
                         queries: DataFrame): Seq[Eval] = {
    val c = corpus.localCheckpoint()
    val q = queries.localCheckpoint()
    val bf = AnnSearch.bruteForceTopK(c, q, K).localCheckpoint()
    def ev(method: String, ann: DataFrame, cand: Double): Eval = {
      val (r, r1) = recallAt(bf, ann)
      Eval(name, method, r, r1, cand)
    }
    val cents = AnnSearch.ivfCentroids(c, nlist = 16).localCheckpoint()
    Seq(
      ev(s"single $AnnHyperplanes-plane", AnnSearch.lshTopK(c, q, K), candSingle(c, q)),
      ev(s"banded ${AnnBandTables}x$AnnBandPlanes", AnnSearch.lshTopKBanded(c, q, K),
        candBanded(c, q)),
      ev("ivf 16/4", AnnSearch.ivfTopKWith(cents, c, q, K, nprobe = 4),
        candIvf(cents, c, q, 4)),
      ev("ivf 16/8", AnnSearch.ivfTopKWith(cents, c, q, K, nprobe = 8),
        candIvf(cents, c, q, 8)))
  }

  def main(args: Array[String]): Unit = {
    // the table does not depend on the core count: local[4] writes the
    // same ANN.md as local[8] did
    val spark = BenchUtil.session("graft-ann-eval")

    val regimes = Seq(("planted cos~0.99 (σ=0.15)", 0.15),
      ("planted cos~0.88 (σ=0.55)", 0.55),
      ("planted cos~0.71 (σ=1.0)", 1.0))
    val results = regimes.flatMap { case (name, sigma) =>
      val c = planted(spark, nBase = 2000, nDups = 200, sigma)
      evalCorpus(name, c, c.where(col("id") >= 1000000L))
    } ++ {
      val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
      val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      evalCorpus("testdata (adversarial, max cos 0.47)", emb,
        emb.where(col("id") < 50))
    }

    val md = new StringBuilder
    md.append("# ANN — recall/cost evidence for the three ANN paths\n\n")
    md.append("Measured by `graft.AnnEval` (deterministic seed; 2,200-vector planted\n")
    md.append("corpora, dim 32, 200 planted queries). Two recall columns because they\n")
    md.append("answer different questions: `NN@1-in-10` = fraction of queries whose\n")
    md.append("exact rank-1 neighbor (the planted near-dup) appears in the ANN top-10\n")
    md.append("— THE dedup-relevant number; `recall@10` = overlap with the full exact\n")
    md.append("top-10, whose ranks 2..10 in a gaussian corpus are arbitrary\n")
    md.append("moderate-cosine background no sub-linear method targets. `cand/q` =\n")
    md.append("candidate pairs scored per query (brute force scores every corpus\n")
    md.append("row). Regimes named by the expected planted cosine 1/√(1+σ²).\n\n")
    md.append("| corpus | method | NN@1-in-10 | recall@10 | cand/q |\n|---|---|---|---|---|\n")
    results.foreach { e =>
      md.append(f"| ${e.corpus} | ${e.method} | ${e.recallNN1}%.3f | ${e.recall}%.3f | ${e.candPerQuery}%.0f |\n")
    }
    md.append(
      """
What the table backs (GoldenConfig scaladoc has the collision math):
**banded 12×8** is the near-dup candidate generator — it retrieves the
planted near-dup (NN@1) with high probability in the cos ≥ 0.9 production
regime at the lowest candidate volume of the high-recall methods, and its
NN@1 degrades as the planted cosine falls (sign-bit LSH physics, not a
tuning miss). **IVF nprobe/nlist** trades candidate volume for recall
linearly and is the only path whose recall holds on the adversarial
testdata corpus (coarse quantization does not depend on per-plane sign
margins); nprobe = nlist degenerates to exact brute force (unit-tested).
The **single 16-plane table** is the cheapest filter and only fit for the
highest-cosine regime. Full-top-10 retrieval of arbitrary-cosine
neighbors is brute force's job (or IVF with nprobe ≈ nlist) — not what
the dedup pipeline asks of ANN.
""".stripMargin)
    java.nio.file.Files.writeString(java.nio.file.Paths.get("ANN.md"), md.toString)

    val json = results.map(e =>
      s"""{"corpus":"${e.corpus}","method":"${e.method}","recall_nn1":${e.recallNN1},"recall":${e.recall},"cand_per_query":${e.candPerQuery}}""")
      .mkString("[", ",", "]")
    println(s"""{"bench":"ann_recall","k":$K,"rows":$json}""")
    spark.stop()
  }
}
