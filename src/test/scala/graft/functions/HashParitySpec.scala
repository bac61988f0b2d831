package graft.functions

import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers
import org.apache.spark.sql.functions._
import graft.SparkTestBase
import graft.config.GoldenConfig
import graft.config.GoldenConfig._

/** The three implementations of the pinned hash scheme must agree exactly:
  * host Scala (GoldenConfig), built-in column expressions (TextHash — the
  * formulation mirrored by the DuckDB oracle), and the compiled kernels
  * (HashKernels via the custom expressions). */
class HashParitySpec extends AnyFlatSpec with Matchers with SparkTestBase {

  "strHash" should "match the published fold on 'abc'" in {
    // ((0*31+97)*31+98)*31+99 = 96354 — same value the DuckDB oracle computes
    GoldenConfig.strHash("abc") shouldBe 96354L
  }

  it should "agree between host, builtin expression and kernel expression" in {
    import spark.implicits._
    // includes the oracle edge cases: empty string, whitespace-only, empty
    // tokens from consecutive/leading/trailing spaces, and non-ASCII BMP
    val samples = Seq("", " ", "  ", "a  b", " leading", "trailing ",
      "a", "abc", "the quick brown fox", "sort merge join",
      "x" * 100, "agg row scan slow fast", "123 456", "a b c d e f g h",
      "héllo wörld", "éü")
    val df = samples.toDF("s")
    val rows = df.select(
      TextHash.strHash(col("s")).as("builtin"),
      GraftExpressions.strHash(col("s")).as("kernel")).collect()
    rows.zip(samples).foreach { case (r, s) =>
      withClue(s"input='$s'") {
        r.getLong(0) shouldBe GoldenConfig.strHash(s)
        r.getLong(1) shouldBe GoldenConfig.strHash(s)
      }
    }
  }

  it should "hash supplementary-plane characters as code points (kernel + host)" in {
    import spark.implicits._
    // astral input: the kernel and the host golden walk CODE POINTS — one
    // value per emoji — matching DuckDB unicode(); the builtin is
    // documented BMP-only (split("") yields two surrogates) and is NOT
    // asserted here.
    val samples = Seq("🙂", "a🙂b", "🌍 x 🌍")
    def cpHash(s: String): Long = {
      var h = 0L; var i = 0
      while (i < s.length) {
        val cp = s.codePointAt(i)
        h = (h * StrBase + cp) % P
        i += Character.charCount(cp)
      }
      h
    }
    val rows = samples.toDF("s")
      .select(GraftExpressions.strHash(col("s")).as("kernel")).collect()
    rows.zip(samples).foreach { case (r, s) =>
      withClue(s"input='$s'") {
        r.getLong(0) shouldBe cpHash(s)
        GoldenConfig.strHash(s) shouldBe cpHash(s)
      }
    }
  }

  it should "hash empty strings and empty tokens to 0 everywhere" in {
    import spark.implicits._
    // the guarded DuckDB oracle also returns 0 here (unicode('') = -1 is
    // filtered out) — parity pinned by this test on the Spark side
    val rows = Seq("", "a  b").toDF("s")
      .select(explode(TextHash.tokens(col("s"))).as("tok"))
      .select(GraftExpressions.strHash(col("tok")).as("kernel"),
        TextHash.strHash(col("tok")).as("builtin"))
      .collect()
    rows.filter(_.getLong(0) == 0L) should not be empty
    rows.foreach { r =>
      if (r.getLong(0) == 0L) r.getLong(1) shouldBe 0L
    }
    GoldenConfig.strHash("") shouldBe 0L
  }

  it should "stay in [0, P)" in {
    for (s <- Seq("z" * 500, "~!@#$%", "éü")) {
      val h = GoldenConfig.strHash(s)
      h should be >= 0L
      h should be < P
    }
  }

  "dotF kernel" should "left-fold the dot product of two float arrays" in {
    spark.range(1).select(
      GraftExpressions.dotF(array(lit(1.0f), lit(2.0f)), array(lit(3.0f), lit(4.0f))))
      .head().getDouble(0) shouldBe 11.0
  }

  "hyperplane-bucket kernel" should "stay in [0, 2^planes)" in {
    val b = spark.range(1).select(
      GraftExpressions.hyperplaneBucket(array(lit(0.5f), lit(-0.25f)), AnnHyperplanes))
      .head().getLong(0)
    b should (be >= 0L and be < (1L << AnnHyperplanes))
  }

  "minhash signature" should "agree between builtin expressions and kernel on real docs" in {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val sh = docs.select(col("doc_id"),
      TextHash.shingles(TextHash.tokens(col("text"))).as("shingles"))
      .where(expr("size(shingles) > 0"))
    val both = sh.select(col("doc_id"),
      TextHash.minhashSignature(TextHash.hashArray(col("shingles"))).as("slow"),
      GraftExpressions.minhashSig(col("shingles")).as("fast"))
    val bad = both.where(col("slow") =!= col("fast")).count()
    bad shouldBe 0L
    both.count() should be > 0L
  }

  it should "be the elementwise min of affine hashes" in {
    import spark.implicits._
    val df = Seq(Seq("aa", "bb")).toDF("shingles")
    val sig = df.select(GraftExpressions.minhashSig(col("shingles")))
      .head().getSeq[Long](0)
    sig should have length NumHashes
    val xa = GoldenConfig.strHash("aa")
    val xb = GoldenConfig.strHash("bb")
    for (i <- Seq(0, 1, 63, 127)) {
      val expect = math.min((hashA(i) * xa + hashB(i)) % P, (hashA(i) * xb + hashB(i)) % P)
      sig(i) shouldBe expect
    }
  }

  "fused shingle+minhash kernel" should "equal the string-shingle path on real docs" in {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val viaStrings = docs.select(col("doc_id"),
      TextHash.shingles(TextHash.tokens(col("text"))).as("sh"))
      .where(expr("size(sh) > 0"))
      .select(col("doc_id"), GraftExpressions.minhashSig(col("sh")).as("sig"))
    val fused = docs.select(col("doc_id"),
      GraftExpressions.minhashShingles(TextHash.tokens(col("text")),
        graft.config.GoldenConfig.ShingleK).as("sig"))
      .where(col("sig").isNotNull)
    viaStrings.count() shouldBe fused.count()
    viaStrings.join(fused.withColumnRenamed("sig", "sig2"), "doc_id")
      .where(col("sig") =!= col("sig2")).count() shouldBe 0L
  }

  "shingle-hash kernel" should "equal sorted distinct strHash of shingle strings" in {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val both = docs.select(col("doc_id"),
        TextHash.shingles(TextHash.tokens(col("text"))).as("sh"),
        GraftExpressions.shingleHashes(TextHash.tokens(col("text")),
          graft.config.GoldenConfig.ShingleK).as("fast"))
      .where(expr("size(sh) > 0"))
      .withColumn("slow", array_sort(array_distinct(TextHash.hashArray(col("sh")))))
    both.where(col("slow") =!= col("fast")).count() shouldBe 0L
    both.count() should be > 0L
  }

  "shingle-strings kernel" should "equal array_distinct of expression shingles on real docs" in {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val both = docs.select(
      TextHash.shingles(TextHash.tokens(col("text"))).as("slow"),
      GraftExpressions.shingleStrings(TextHash.tokens(col("text")),
        graft.config.GoldenConfig.ShingleK).as("fast"))
    both.where(col("slow") =!= col("fast")).count() shouldBe 0L
    both.count() should be > 0L
  }

  it should "match on edge inputs (short docs, repeats, empties)" in {
    import spark.implicits._
    val samples = Seq("", "a", "a b", "a b c", "a b c d", "x x x x x",
      "a  b c", " a b c ", "a b c a b c a b c", "é ü ñ é ü ñ")
    val both = samples.toDF("text").select(
      TextHash.shingles(TextHash.tokens(col("text"))).as("slow"),
      GraftExpressions.shingleStrings(TextHash.tokens(col("text")),
        graft.config.GoldenConfig.ShingleK).as("fast"))
    both.where(col("slow") =!= col("fast")).count() shouldBe 0L
  }

  "simhash kernel" should "equal the explode→groupBy formulation on real docs" in {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val bits = SimHashBits
    // the pre-kernel reference formulation, verbatim
    val tok = docs.select(col("doc_id").as("id"),
      explode(TextHash.tokens(col("text"))).as("token"))
    val slow = tok.groupBy("id", "token").agg(count(lit(1)).as("cnt"))
      .withColumn("th", GraftExpressions.strHash(col("token")))
      .select(col("id"), explode(sequence(lit(0L), lit(bits - 1L))).as("bit"),
        col("cnt"), col("th"))
      .withColumn("contrib",
        expr("cnt * ((shiftright(th, cast(bit AS int)) & CAST(1 AS bigint)) * 2 - 1)"))
      .groupBy("id", "bit").agg(sum(col("contrib")).as("s"))
      .groupBy("id")
      .agg(sum(expr("CASE WHEN s > 0 THEN shiftleft(CAST(1 AS bigint), cast(bit AS int)) ELSE CAST(0 AS bigint) END"))
        .as("slow"))
    val fast = docs.select(col("doc_id").as("id"),
      GraftExpressions.simHash(TextHash.tokens(col("text")), bits).as("fast"))
    val joined = slow.join(fast, "id")
    joined.where(col("slow") =!= col("fast")).count() shouldBe 0L
    joined.count() should be > 0L
  }

  "phash64 kernel" should "equal the expression-tree dctHash on sq8 codes" in {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val codes = graft.operators.AnnSearch.sq8Encode(emb)
    val slow = codes.select(col("id"),
        graft.images.PerceptualHash.dctHash(col("code")).as("_s"))
      .select(col("id"), col("_s.phash_hi").as("hi_s"), col("_s.phash_lo").as("lo_s"))
    val fast = graft.images.PerceptualHash.signatures(codes, "id", "code")
    val joined = slow.join(fast, "id")
    joined.where(col("hi_s") =!= col("phash_hi") ||
      col("lo_s") =!= col("phash_lo")).count() shouldBe 0L
    joined.count() should be > 0L
  }

  "band-hash kernel" should "equal the expression bandHashes on real docs" in {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val sig = docs.select(col("doc_id"),
      GraftExpressions.minhashShingles(TextHash.tokens(col("text")),
        graft.config.GoldenConfig.ShingleK).as("sig"))
      .where(col("sig").isNotNull)
    val both = sig.select(col("doc_id"),
      transform(TextHash.bandHashes(col("sig")), s => s("band_hash")).as("slow"),
      GraftExpressions.bandHashArr(col("sig"), Bands, RowsPerBand).as("fast"))
    both.where(col("slow") =!= col("fast")).count() shouldBe 0L
    both.count() should be > 0L
  }

  "band hashes" should "fold r consecutive signature values" in {
    import spark.implicits._
    val df = Seq(Seq("aa", "bb", "cc", "dd")).toDF("shingles")
    val r = df.select(
      GraftExpressions.minhashSig(col("shingles")).as("sig"))
      .select(col("sig"), TextHash.bandHashes(col("sig")).as("bands"))
      .head()
    val sig = r.getSeq[Long](0)
    val bands = r.getSeq[org.apache.spark.sql.Row](1)
    bands should have length Bands
    val b0 = bands.head
    b0.getLong(0) shouldBe 0L
    val expect = sig.take(RowsPerBand).foldLeft(0L)((h, m) => (h * StrBase + m) % P)
    b0.getLong(1) shouldBe expect
  }
}
