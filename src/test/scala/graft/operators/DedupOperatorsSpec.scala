package graft.operators

import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers
import org.apache.spark.sql.functions._
import graft.SparkTestBase
import graft.config.GoldenConfig._

/** MinHash-LSH, salting, SimHash and substring operators — semantics tests
  * on constructed inputs with known truth. */
class DedupOperatorsSpec extends AnyFlatSpec with Matchers with SparkTestBase {
  import spark.implicits._

  // ~48 tokens: a single token edit flips 3 of 46 shingles → J ≈ 43/49 ≈ 0.88 ≥ τ=0.8
  private val base = ("key agg row scan slow fast table value part hash merge batch " +
    "line sort window group filter join order data stream column vector query " +
    "small big the customer spark scan row agg fast merge sort window group " +
    "key value part hash line data stream column").trim
  private val nearDup = base.replace("slow", "quick") // 1-token edit → high shingle jaccard
  private val unrelated = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu nu xi"

  private def docsDf = Seq(
    (0L, base), (1L, nearDup), (2L, unrelated),
    (3L, base), // exact dup of 0
    (4L, "tiny doc") // < k tokens → no shingles
  ).toDF("doc_id", "text")

  "Queries.exactDedup" should "match the min-over-window formulation, incl. a viral caption" in {
    // groupBy-min + join-back (straggler-proof) must be row-identical to
    // the reference window formulation; 1/3 of docs share one caption
    val dir = java.nio.file.Files.createTempDirectory("graft_exdup").toString
    spark.range(0L, 3000L)
      .select(col("id").as("doc_id"),
        when(col("id") % 997L === 0L, lit(null).cast("string")) // NULLs must survive
          .when(col("id") % 3L === 0L, lit("Viral Caption Here"))
          .otherwise(concat(lit("doc "), (col("id") % 700L).cast("string"))).as("text"))
      .write.parquet(s"$dir/documents.parquet")
    val fast = graft.Queries.exactDedup(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val ref = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), min(col("doc_id")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(lower(col("text")))).as("keeper"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    fast shouldBe ref
    fast.size shouldBe 3000 // no row dropped — incl. the NULL-text ones
    fast(2703L) shouldBe 3L // viral caption collapses to its min id (0 is NULL now)
    fast(997L) shouldBe 0L  // NULL texts form one class, keeper = min id
    fast(5L) shouldBe 5L    // "doc 5" first appears at id 5
  }

  "Queries.keepBest" should "keep the highest-diversity member of each near-dup cluster" in {
    val dir = java.nio.file.Files.createTempDirectory("graft_keep").toString
    // doc 0 = base with "slow" replaced by an ALREADY-PRESENT token →
    // one fewer distinct token; doc 1 = base. Near-dups (1-token edit),
    // cluster labeled min id 0, but the KEEPER must be the
    // higher-diversity doc 1 — quality beats id order.
    Seq((0L, base.replace("slow", "key")), (1L, base), (2L, unrelated))
      .toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")
    val out = graft.Queries.keepBest(spark, dir)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    out(0L) shouldBe ((0L, 1L))
    out(1L) shouldBe ((0L, 1L))
    out(2L) shouldBe ((2L, 2L))
  }

  "exactCollapse" should "pick min id as representative" in {
    val (reps, star) = MinHashLsh.exactCollapse(docsDf, "doc_id", "text")
    reps.count() shouldBe 4 // 5 docs, one exact dup collapsed
    star.collect().map(r => (r.getLong(0), r.getLong(1))).toSet shouldBe Set((0L, 3L))
  }

  "SkewSalting.selfJoinPairsVerified" should "produce identical pairs salted and unsalted (random buckets + verify col)" in {
    import spark.implicits._
    // deterministic pseudo-random bucket data: 400 rows over 12 buckets,
    // each row carrying a payload from a 3-value domain that must ALSO
    // match within a bucket for a pair to count
    val rows = (0L until 400L).map { i =>
      val bucket = (i * 2654435761L % 12).toInt
      val payload = s"p${(i * 40503L % 3)}"
      (i, bucket, payload)
    }.toDF("id", "bucket", "pfx")
    def run(cap: Int, fanout: Int) =
      SkewSalting.selfJoinPairsVerified(rows, Seq("bucket"), "id", Seq("pfx"),
        cap, fanout)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val unsalted = run(cap = 100000, fanout = 4) // nothing hot
    val salted = run(cap = 8, fanout = 4)        // everything hot
    salted shouldBe unsalted
    unsalted should not be empty
    // and the verify column really constrains: a brute-force reference
    val brute = rows.collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2)))
    val expect = (for {
      a <- brute; b <- brute
      if a._1 < b._1 && a._2 == b._2 && a._3 == b._3
    } yield (a._1, b._1)).toSet
    unsalted shouldBe expect
  }

  "SkewSalting.selfJoinPairs" should "produce identical pairs salted and unsalted" in {
    // one hot bucket (40 members > cap=10) + several cold buckets
    val rows = (0L until 40L).map(i => (999L, i)) ++
      Seq((1L, 100L), (1L, 101L), (2L, 200L), (2L, 201L), (2L, 202L))
    val df = rows.toDF("bucket", "id")
    val salted = SkewSalting.selfJoinPairs(df, Seq("bucket"), "id", cap = 10, fanout = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val unsalted = SkewSalting.selfJoinPairs(df, Seq("bucket"), "id", cap = 1000000, fanout = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    salted shouldBe unsalted
    salted.size shouldBe (40 * 39 / 2 + 1 + 3)
  }

  "SkewSalting.crossJoinPairs" should "equal brute force, salted and unsalted, with either side bigger" in {
    // bucket 999: left bigger (60 × 10); bucket 7: right bigger (3 × 40);
    // bucket 1: cold 1 × 1; buckets 3 / 2: one side only → no pairs
    val left = ((0L until 60L).map(i => (999L, i)) ++
      Seq((7L, 200L), (7L, 201L), (7L, 202L), (1L, 300L), (3L, 301L))).toDF("bucket", "id")
    val right = ((1000L until 1010L).map(i => (999L, i)) ++
      (2000L until 2040L).map(i => (7L, i)) ++
      Seq((1L, 400L), (2L, 401L))).toDF("bucket", "id")
    def run(cap: Int) =
      SkewSalting.crossJoinPairs(left, right, Seq("bucket"), "id", cap, fanout = 4)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val bl = left.collect().map(r => (r.getLong(0), r.getLong(1)))
    val br = right.collect().map(r => (r.getLong(0), r.getLong(1)))
    val expect = (for { a <- bl; b <- br; if a._1 == b._1 } yield (a._2, b._2)).toSet
    val unsalted = run(cap = 100000) // nothing hot
    val salted = run(cap = 5)        // both mixed-size buckets hot
    salted shouldBe unsalted
    unsalted shouldBe expect
    expect.size shouldBe (60 * 10 + 3 * 40 + 1)
  }

  it should "produce identical pairs on the semi-join fallback path (right side too big to bloom)" in {
    val left = ((0L until 30L).map(i => (999L, i)) ++ Seq((1L, 300L), (3L, 301L)))
      .toDF("bucket", "id")
    val right = ((1000L until 1006L).map(i => (999L, i)) ++ Seq((1L, 400L), (2L, 401L)))
      .toDF("bucket", "id")
    val bl = left.collect().map(r => (r.getLong(0), r.getLong(1)))
    val br = right.collect().map(r => (r.getLong(0), r.getLong(1)))
    val expect = (for { a <- bl; b <- br; if a._1 == b._1 } yield (a._2, b._2)).toSet
    // maxBloomKeys = 1 forces the shuffle semi-join branch
    val viaSemi = SkewSalting.crossJoinPairs(left, right, Seq("bucket"), "id",
        cap = 5, fanout = 3, maxBloomKeys = 1L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    viaSemi shouldBe expect
  }

  it should "match the cross-side subset of the self-join on real documents" in {
    // the q41 shape: candidatePairsAgainst(master, staging) must equal the
    // master×staging pairs hiding inside candidatePairs(master ∪ staging)
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val master = d.where(col("doc_id") % 4 =!= 0)
    val staging = d.where(col("doc_id") % 4 === 0)
    def bandsOf(df: org.apache.spark.sql.DataFrame) =
      MinHashLsh.bands(MinHashLsh.signaturesFromText(df, "doc_id", "text"))
    val cross = MinHashLsh.candidatePairsAgainst(bandsOf(master), bandsOf(staging))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val self = MinHashLsh.candidatePairs(bandsOf(d))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val expected = self.collect {
      case (a, b) if a % 4 != 0 && b % 4 == 0 => (a, b)
      case (a, b) if a % 4 == 0 && b % 4 != 0 => (b, a)
    }.toSet
    cross shouldBe expected
    cross should not be empty
  }

  it should "never shuffle corpus rows from buckets with no delta row (incremental plan property)" in {
    // 1.2M corpus-only buckets + 500 buckets shared with the delta. The
    // naive cross join shuffles the whole corpus side (~1.2M+ records);
    // with the pairable-bucket bloom only multi-side buckets (plus the
    // count partial-aggs and ~3% FPs) may shuffle.
    val corpus = spark.range(0L, 1200500L)
      .select(col("id"), (col("id") + 10000000L).as("bucket"))
      .repartition(8).localCheckpoint()
    val delta = spark.range(0L, 500L)
      .select((col("id") + 5000000L).as("id"), (col("id") + 10000000L + 1200000L).as("bucket"))
      .repartition(4).localCheckpoint()
    val written = new java.util.concurrent.atomic.AtomicLong
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (t.taskMetrics != null && t.taskMetrics.shuffleWriteMetrics != null)
          written.addAndGet(t.taskMetrics.shuffleWriteMetrics.recordsWritten)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val pairs = SkewSalting.crossJoinPairs(corpus, delta, Seq("bucket"), "id",
          SaltCap, SaltFanout)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      var last = -1L
      var spins = 0
      while (written.get() != last && spins < 40) {
        last = written.get(); Thread.sleep(250); spins += 1
      }
      pairs shouldBe (0L until 500L).map(i => (1200000L + i, 5000000L + i)).toSet
      info(s"shuffle records written = ${written.get()} (naive cross join: ~2.4M)")
      written.get() should be < 1000000L
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  "SkewSalting.selfJoinPairs" should "never shuffle singleton-bucket rows into the pair join (round-3 plan property)" in {
    // 1.2M singleton buckets (above BloomMinSingletons, so the bloom
    // engages) + 500 buckets of 2. The round-2 formulation shuffled every
    // row ~3x (window + both self-join sides) ≈ 3.6M records; with the
    // map-side bloom drop only the counts partial-agg rows plus the
    // multi-member rows (and ~3% FP singletons) may shuffle. A listener on
    // shuffle-write records pins the property measurably — a refactor that
    // re-admits singletons to the pair join trips the bound.
    val singles = spark.range(0L, 1200000L)
      .select(col("id"), (col("id") + 10000000L).as("bucket"))
    val multis = spark.range(0L, 1000L)
      .select((col("id") + 20000000L).as("id"),
        (expr("id div 2") + 900000000L).as("bucket"))
    val rows = singles.unionByName(multis)
      .repartition(8).localCheckpoint() // materialize input OUTSIDE the measured region
    val written = new java.util.concurrent.atomic.AtomicLong
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (t.taskMetrics != null && t.taskMetrics.shuffleWriteMetrics != null)
          written.addAndGet(t.taskMetrics.shuffleWriteMetrics.recordsWritten)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val pairs = SkewSalting.selfJoinPairs(rows, Seq("bucket"), "id", SaltCap, SaltFanout)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      // listener events are async — wait until the counter stabilizes
      var last = -1L
      var spins = 0
      while (written.get() != last && spins < 40) {
        last = written.get(); Thread.sleep(250); spins += 1
      }
      pairs shouldBe (0L until 1000L by 2).map(i => (20000000L + i, 20000001L + i)).toSet
      info(s"shuffle records written = ${written.get()} (all-rows formulation: ~3.6M)")
      written.get() should be < 2000000L
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  "SimHashNearDup" should "bucket-join equals brute-force hamming filter" in {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val sim = SimHashNearDup.simhashTable(docs, "doc_id", "text").localCheckpoint()
    val viaBuckets = SimHashNearDup.nearDupPairs(sim.toDF())
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val a = sim.select(col("id").as("a"), col("simhash").as("sa"))
    val b = sim.select(col("id").as("b"), col("simhash").as("sb"))
    val brute = a.join(b, col("a") < col("b"))
      .where(expr(s"bit_count(sa ^ sb) <= $HammingMax"))
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    viaBuckets shouldBe brute
  }

  "substringPairs" should "catch long common runs that shingle-jaccard misses" in {
    val run8 = "one two three four five six seven eight"
    val d = Seq(
      (0L, s"totally different prefix here $run8"),
      (1L, s"$run8 and then a completely other ending altogether follows"),
      (2L, "no shared runs at all in this one friend")
    ).toDF("doc_id", "text")
    val pairs = TextAnalysis.substringPairs(d, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    pairs shouldBe Set((0L, 1L))
  }
}
