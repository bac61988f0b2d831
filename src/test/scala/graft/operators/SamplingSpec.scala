package graft.operators

import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers
import org.apache.spark.sql.functions._
import graft.SparkTestBase

/** Deterministic sampling: the selected set must be a pure function of row
  * keys — invariant under partitioning/layout (the property Spark's
  * partition-seeded `df.sample` does NOT have). */
class SamplingSpec extends AnyFlatSpec with Matchers with SparkTestBase {
  import spark.implicits._

  "Sampling.bernoulli" should "select the same rows under any layout, near the nominal rate" in {
    val ids = spark.range(0L, 10000L).toDF("id")
    def picked(df: org.apache.spark.sql.DataFrame) =
      Sampling.bernoulli(df, "id", rateMillis = 150)
        .collect().map(_.getLong(0)).toSet
    val a = picked(ids)
    val b = picked(ids.repartition(17))
    val c = picked(ids.repartition(1).orderBy(desc("id")))
    a shouldBe b
    a shouldBe c
    // LCG keys are uniform enough for a loose band around 15%
    a.size.toDouble / 10000 shouldBe 0.15 +- 0.02
    // a different seed selects a different set
    val d = Sampling.bernoulli(ids, "id", rateMillis = 150, seed = 7L)
      .collect().map(_.getLong(0)).toSet
    d should not be a
  }

  "Sampling.stratifiedTopK" should "keep exactly min(k, |stratum|) rows per stratum, layout-independent" in {
    val df = spark.range(0L, 1000L)
      .select(col("id"), (col("id") % 7L).as("stratum")).toDF("id", "stratum")
    def run(d: org.apache.spark.sql.DataFrame) =
      Sampling.stratifiedTopK(d, "id", "stratum", k = 10)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val a = run(df)
    a shouldBe run(df.repartition(13))
    a.groupBy(_._2).values.map(_.size).toSet shouldBe Set(10)
    // a stratum smaller than k keeps all of it
    val tiny = Seq((1L, 0L), (2L, 0L), (3L, 1L)).toDF("id", "stratum")
    Sampling.stratifiedTopK(tiny, "id", "stratum", k = 10).count() shouldBe 3
  }

  it should "equal the window formulation row-for-row (random strata, several k)" in {
    // the bounded-aggregate + join-back path must preserve EXACT semantics:
    // same rows, same sample_rank — across random stratum shapes and seeds
    val rnd = new scala.util.Random(4242)
    (1 to 3).foreach { trial =>
      // ids unique by construction (the operator's contract), keys scattered
      val rows = (0 until 400).map(i =>
        (i.toLong * 1000L + rnd.nextInt(1000), rnd.nextInt(12).toLong))
      val df = rows.toDF("id", "stratum").repartition(7)
      val k = Seq(1, 3, 17)(trial - 1)
      def norm(d: org.apache.spark.sql.DataFrame) =
        d.select("id", "stratum", "sample_rank")
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      withClue(s"trial $trial k=$k") {
        norm(Sampling.stratifiedTopK(df, "id", "stratum", k, seed = trial.toLong)) shouldBe
          norm(Sampling.stratifiedTopKWindow(df, "id", "stratum", k, seed = trial.toLong))
      }
    }
  }

  it should "survive a viral stratum without concentrating it in one task" in {
    // 1/2 of all rows share one stratum — the window formulation ships all
    // of them to a single task; the bounded aggregate caps partial state at
    // k per stratum per partition. Semantics must still match exactly.
    val viral = spark.range(0L, 20000L)
      .select(col("id"), when(col("id") < 10000L, 99L).otherwise(col("id") % 50L).as("stratum"))
      .toDF("id", "stratum").repartition(16)
    val fast = Sampling.stratifiedTopK(viral, "id", "stratum", k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getAs[Long]("sample_rank"))).toSet
    val ref = Sampling.stratifiedTopKWindow(viral, "id", "stratum", k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getAs[Long]("sample_rank"))).toSet
    fast shouldBe ref
    fast.count(_._2 == 99L) shouldBe 5
  }

  "Sampling.stratifiedTopKByThreshold" should "equal the window formulation row-for-row (random strata, several k)" in {
    // the unbounded-k scale path (threshold selection instead of a k-entry
    // heap) must preserve EXACT semantics: same rows, same sample_rank
    val rnd = new scala.util.Random(1717)
    (1 to 3).foreach { trial =>
      val rows = (0 until 500).map(i =>
        (i.toLong * 1000L + rnd.nextInt(1000), rnd.nextInt(9).toLong))
      val df = rows.toDF("id", "stratum").repartition(7)
      val k = Seq(1L, 23L, 170L)(trial - 1)
      def norm(d: org.apache.spark.sql.DataFrame) =
        d.select("id", "stratum", "sample_rank")
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      withClue(s"trial $trial k=$k") {
        norm(Sampling.stratifiedTopKByThreshold(df, "id", "stratum", k, seed = trial.toLong)) shouldBe
          norm(Sampling.stratifiedTopKWindow(df, "id", "stratum", k.toInt, seed = trial.toLong))
      }
    }
  }

  it should "handle ids colliding mod P (tied sample keys at the threshold) exactly" in {
    // ids spaced exactly P apart share a sample key (the key map is an
    // affine bijection mod P) — real at 10^12-scale ids, where ≈ corpus/P
    // rows tie at any threshold key. Ties must resolve by id, identically
    // to the window formulation.
    val P = graft.config.GoldenConfig.P
    val rows = (0 until 40).flatMap { i =>
      (0 until 5).map(rep => (i.toLong * 977L + rep.toLong * P, (i % 3).toLong))
    } // 5-deep key collisions throughout the key space
    val df = rows.toDF("id", "stratum").repartition(5)
    def norm(d: org.apache.spark.sql.DataFrame) =
      d.select("id", "stratum", "sample_rank")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    Seq(3L, 7L, 31L).foreach { k =>
      withClue(s"k=$k") {
        norm(Sampling.stratifiedTopKByThreshold(df, "id", "stratum", k)) shouldBe
          norm(Sampling.stratifiedTopKWindow(df, "id", "stratum", k.toInt))
      }
    }
  }

  it should "treat a NULL stratum as a real group (null-safe joins)" in {
    // equality joins would silently drop the NULL-source rows — the window
    // formulation (and the bounded-heap path) both keep them as a group
    val df = spark.range(0L, 200L).select(col("id"),
      when(col("id") % 3L === 0L, lit(null).cast("string"))
        .otherwise(concat(lit("s"), col("id") % 2L)).as("stratum"))
    def norm(d: org.apache.spark.sql.DataFrame) =
      d.select("id", "sample_rank")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    Seq(5L, 40L, 200L).foreach { k =>
      withClue(s"k=$k") {
        norm(Sampling.stratifiedTopKByThreshold(df, "id", "stratum", k)) shouldBe
          norm(Sampling.stratifiedTopKWindow(df, "id", "stratum", k.toInt))
      }
    }
  }

  it should "keep whole strata smaller than k, ranked" in {
    val tiny = Seq((1L, 0L), (2L, 0L), (3L, 1L)).toDF("id", "stratum")
    val out = Sampling.stratifiedTopKByThreshold(tiny, "id", "stratum", 10L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getAs[Long]("sample_rank")))
    out.length shouldBe 3
    out.filter(_._2 == 0L).map(_._3).sorted shouldBe Seq(1L, 2L)
    out.filter(_._2 == 1L).map(_._3) shouldBe Seq(1L)
  }

  "Sampling.balancedMix" should "equal the bounded-heap formulation on a LARGE minority stratum" in {
    // the round-4 shape used stratifiedTopK with k = minority size — a
    // multi-GB per-task heap once the minority is large. The threshold
    // path must select the identical rows with bounded task state. Large
    // minority here = 4000 rows/stratum (vs k=5-scale heaps elsewhere).
    val df = spark.range(0L, 13000L).select(col("id"),
      when(col("id") < 4000L, "a").when(col("id") < 9000L, "b")
        .otherwise("c").as("src"))
    val picked = Sampling.balancedMix(df.repartition(16), "id", "src")
    picked.groupBy("src").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap shouldBe
      Map("a" -> 4000L, "b" -> 4000L, "c" -> 4000L)
    // identical rows AND ranks as the window reference at the same k
    val ref = Sampling.stratifiedTopKWindow(df, "id", "src", 4000)
    picked.select("id", "sample_rank").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet shouldBe
      ref.select("id", "sample_rank").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
  }

  it should "downsample every stratum to the minority size, layout-independent" in {
    val df = spark.range(0L, 300L).select(col("id"),
      when(col("id") < 200L, "web").when(col("id") < 280L, "books")
        .otherwise("code").as("src"))
    val picked = Sampling.balancedMix(df, "id", "src")
    val sizes = picked.groupBy("src").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    sizes shouldBe Map("web" -> 20L, "books" -> 20L, "code" -> 20L)
    val again = Sampling.balancedMix(df.repartition(11), "id", "src")
    again.select("id").collect().map(_.getLong(0)).toSet shouldBe
      picked.select("id").collect().map(_.getLong(0)).toSet
  }

  "Sampling.temperatureMix" should "flatten stratum shares toward √-proportional, layout-independent" in {
    // 4000 / 1000 / 250 rows → keep rates √(250/n): 0.25, 0.5, 1.0
    val df = spark.range(0L, 5250L).select(col("id"),
      when(col("id") < 4000L, "web").when(col("id") < 5000L, "books")
        .otherwise("code").as("src"))
    val picked = Sampling.temperatureMix(df, "id", "src")
    val sizes = picked.groupBy("src").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    sizes("code") shouldBe 250L            // smallest stratum kept whole
    sizes("web").toDouble shouldBe (1000.0 +- 60.0)   // ≈ 4000·0.25
    sizes("books").toDouble shouldBe (500.0 +- 45.0)  // ≈ 1000·0.5
    // deterministic under any layout
    val again = Sampling.temperatureMix(df.repartition(13), "id", "src")
    again.select("id").collect().map(_.getLong(0)).toSet shouldBe
      picked.select("id").collect().map(_.getLong(0)).toSet
    // NULL stratum is a real group
    val withNull = df.withColumn("src",
      when(col("id") % 7L === 0L, lit(null).cast("string")).otherwise(col("src")))
    Sampling.temperatureMix(withNull, "id", "src")
      .where(col("src").isNull).count() should be > 0L
    // empty input keeps the shape
    Sampling.temperatureMix(df.limit(0), "id", "src").count() shouldBe 0L
  }

  "BoundedTopKAgg.Heap" should "keep exactly the k smallest pairs under random updates and merges" in {
    val rnd = new scala.util.Random(99)
    (1 to 20).foreach { trial =>
      val k = 1 + rnd.nextInt(8)
      val pairs = Seq.fill(1 + rnd.nextInt(60))((rnd.nextInt(20).toLong, rnd.nextLong()))
      // split into two heaps (the partial buffers), merge via foreach/offer
      // — the same path TypedImperativeAggregate.merge exercises
      val (p1, p2) = pairs.splitAt(rnd.nextInt(pairs.size + 1))
      val h1 = new graft.functions.BoundedTopKAgg.Heap(k)
      val h2 = new graft.functions.BoundedTopKAgg.Heap(k)
      p1.foreach { case (a, b) => h1.offer(a, b) }
      p2.foreach { case (a, b) => h2.offer(a, b) }
      h2.foreach(h1.offer)
      withClue(s"trial $trial k=$k n=${pairs.size}") {
        h1.sortedPairs shouldBe pairs.sorted.take(k)
      }
    }
  }

  it should "not overflow on 10^12-scale ids (ANSI mode)" in {
    val big = Seq(2000000000000L, 9000000000000L).toDF("id")
    noException should be thrownBy
      Sampling.bernoulli(big, "id", rateMillis = 500).collect()
  }

  "BoundedTopKAgg.boundedTopK" should "aggregate the k smallest (key, id) pairs per group" in {
    val rows = Seq((1L, 30L, 300L), (1L, 10L, 100L), (1L, 20L, 200L), (2L, 5L, 50L))
      .toDF("g", "key", "id")
      .groupBy("g").agg(graft.functions.BoundedTopKAgg.boundedTopK(col("key"), col("id"), 2))
      .orderBy("g").collect()
    rows.map(_.getSeq[org.apache.spark.sql.Row](1).map(r => (r.getLong(0), r.getLong(1)))) shouldBe
      Array(Seq((10L, 100L), (20L, 200L)), Seq((5L, 50L)))
  }
}
