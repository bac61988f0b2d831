package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.config.GoldenConfig._
import graft.functions.TextHash
import graft.functions.TextHash._
import graft.operators._

/** Spark implementations behind `SparkEntry.queries`. Each query's DuckDB
  * oracle lives in [[OracleSql]]; the pair must agree bit-for-bit (the
  * driver hash-compares values), so everything on the correctness path is
  * integer mod-P arithmetic or order-pinned double folds.
  */
object Queries {

  // Round-5's balanced() helper (repartition a single-split scan across
  // the cores before compute-heavy maps) is retired: after this round's
  // compiled kernels the per-row work it spread out costs less than the
  // exchange it added (q03 0.53 s with vs 0.29 s without; q70 equal) —
  // and at real scale inputs arrive in thousands of splits, where it was
  // a no-op by construction either way.
  private def docs(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/documents.parquet")
  private def emb(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/embeddings.parquet")
  private def tbl(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** Materialize a map-only query's COMPACT metric rows once before its
    * terminal sort. A global orderBy's range-partitioner sampling pass
    * re-executes its whole child, so a scan→map→sort query otherwise runs
    * the expensive text/vector chain TWICE per action (measured with a
    * per-job listener: two full map passes; q64 0.83 → 0.67 s with this;
    * `perfbench/run.py --workload ops_suite --queries … --trace 1` reports
    * a query's jobs and stages).
    * The LAZY local checkpoint materializes on first use (inside the
    * timed action — nothing is precomputed), and the sort's sampling and
    * shuffle read the small metric rows back instead of recomputing. At
    * any scale this trades a local write+read of the compact OUTPUT for a
    * second full scan + recompute of the much larger INPUT. Only for
    * map-only queries: a query with a pre-sort exchange already reuses
    * its shuffle files for the sampling pass and gains nothing. Applied
    * only where measured as a win — q01/q13/q71's maps (size(split),
    * strHash, Morton bits) are cheap enough that the materialization
    * overhead equals or exceeds the saved second pass. */
  private def mapOnce(df: DataFrame): DataFrame = df.localCheckpoint(false)

  // ---- text path: tokens → shingles → minhash → lsh → verify → clusters ----

  def tokenCount(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).select(col("doc_id"),
      size(tokens(col("text"))).cast("long").as("n_tokens"))
      .orderBy("doc_id")

  def wordCount(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.wordCount(docs(s, dir), "doc_id", "text")
      .withColumnRenamed("id", "doc_id")
      .orderBy("token")

  def shingleStats(s: SparkSession, dir: String): DataFrame =
    mapOnce(docs(s, dir).select(col("doc_id"),
      size(functions.GraftExpressions.shingleStrings(tokens(col("text")), ShingleK))
        .cast("long").as("n_shingles")))
      .orderBy("doc_id")

  private def shingleTbl(s: SparkSession, dir: String): DataFrame =
    MinHashLsh.shingleTable(docs(s, dir), "doc_id", "text")

  private def sigTbl(s: SparkSession, dir: String): DataFrame =
    MinHashLsh.signaturesFromText(docs(s, dir), "doc_id", "text")

  def minhashSig(s: SparkSession, dir: String): DataFrame =
    mapOnce(sigTbl(s, dir)
      .select(col("id").as("doc_id"),
        element_at(col("sig"), 1).as("mh_first"),
        element_at(col("sig"), 64).as("mh_mid"),
        element_at(col("sig"), 128).as("mh_last"),
        aggregate(col("sig"), lit(0L), (a, x) => (a + x) % lit(P)).as("mh_sum")))
      .orderBy("doc_id")

  def lshBands(s: SparkSession, dir: String): DataFrame =
    mapOnce(MinHashLsh.bands(sigTbl(s, dir))
      .select(col("id").as("doc_id"), col("band_idx"), col("band_hash")))
      .orderBy("doc_id", "band_idx")

  def lshPairs(s: SparkSession, dir: String): DataFrame =
    MinHashLsh.candidatePairs(MinHashLsh.bands(sigTbl(s, dir)))
      .orderBy("a", "b")

  def verifyPairs(s: SparkSession, dir: String): DataFrame = {
    val sh = shingleTbl(s, dir)
    MinHashLsh.verifyPairs(
      MinHashLsh.candidatePairs(MinHashLsh.bands(sigTbl(s, dir))), sh)
      .orderBy("a", "b")
  }

  /** Near-dup cluster assignment with CC confined to exact-dup
    * REPRESENTATIVES: reps are each text group's min id, star members have
    * id > their rep, so every component's min id IS its min rep id —
    * members can inherit their rep's cluster through one join instead of
    * dragging |corpus| star edges through every CC iteration. Identical
    * (id, cluster_id) output to CC over every row's verified edges ∪ the
    * star edges (the previous shape); at 10^12 rows this also shrinks the
    * iterated edge set by the duplication factor. */
  private def docClusters(s: SparkSession, d: DataFrame): DataFrame = {
    val (reps, star) = MinHashLsh.exactCollapse(d, "doc_id", "text")
    val sh = MinHashLsh.shingleTable(reps, "id", "text").localCheckpoint(false)
    val cand = MinHashLsh.candidatePairs(
      MinHashLsh.bands(MinHashLsh.signaturesFromText(reps, "id", "text")))
    val repEdges = MinHashLsh.verifyPairs(cand, sh).select(col("a"), col("b"))
    val repClusters =
      ConnectedComponents.run(s, repEdges, Some(reps.select(col("id"))),
          edgesCanonical = true) // selfJoinPairs output: distinct, a < b
        .localCheckpoint(false) // consumed by the rep leg AND the member join
    repClusters.unionByName(
      star.join(repClusters.withColumnRenamed("id", "_r"), col("a") === col("_r"))
        .select(col("b").as("id"), col("cluster_id")))
  }

  /** Flagship: end-to-end near-dup clustering over documents. */
  def dedupClusters(s: SparkSession, dir: String): DataFrame =
    docClusters(s, docs(s, dir))
      .select(col("id").as("doc_id"), col("cluster_id"))
      .orderBy("doc_id")

  /** Exact duplicate collapse: keeper = min doc_id among identical
    * (lowercased) texts. GroupBy-min + join-back, not min-over-window: the
    * partial min combines map-side (a viral caption contributes one row per
    * partition to the shuffle, not all its copies into one window task) and
    * the join-back's residual skew is AQE-splittable, which a window task
    * is not (round-3 verdict "What's wrong #3"). Row-identical to the
    * window formulation — property-tested in DedupOperatorsSpec. */
  def exactDedup(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).select(col("doc_id"), lower(col("text")).as("_lt"))
    val keepers = d.groupBy("_lt").agg(min(col("doc_id")).as("keeper"))
      .withColumnRenamed("_lt", "_kt")
    // null-SAFE join: groupBy puts NULL texts in one group, and the window
    // formulation (and the oracle's PARTITION BY) keeps those rows — a
    // plain equi-join would silently drop them (review finding)
    d.join(keepers, col("_lt") <=> col("_kt"))
      .select(col("doc_id"), col("keeper")).orderBy("doc_id")
  }

  // ---- simhash path --------------------------------------------------------

  def simhash(s: SparkSession, dir: String): DataFrame =
    mapOnce(SimHashNearDup.simhashTable(docs(s, dir), "doc_id", "text")
      .select(col("id").as("doc_id"), col("simhash")))
      .orderBy("doc_id")

  def simhashPairs(s: SparkSession, dir: String): DataFrame =
    SimHashNearDup.nearDupPairs(
      SimHashNearDup.simhashTable(docs(s, dir), "doc_id", "text"))
      .orderBy("a", "b")

  // ---- substring path ------------------------------------------------------

  def substringPairs(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.substringPairs(docs(s, dir), "doc_id", "text")
      .orderBy("a", "b")

  /** Same semantics via the generalized suffix-array scan (B6). */
  def suffixArrayPairs(s: SparkSession, dir: String): DataFrame =
    SuffixArrayPass.pairs(docs(s, dir), "doc_id", "text")
      .orderBy("a", "b")

  // ---- text analysis -------------------------------------------------------

  def fingerprint(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.fingerprints(docs(s, dir), "doc_id", "text")
      .withColumnRenamed("id", "doc_id").orderBy("doc_id")

  def langId(s: SparkSession, dir: String): DataFrame =
    mapOnce(TextAnalysis.langId(docs(s, dir), "doc_id", "text")
      .withColumnRenamed("id", "doc_id")).orderBy("doc_id")

  def quality(s: SparkSession, dir: String): DataFrame =
    mapOnce(TextAnalysis.qualityScore(docs(s, dir), "doc_id", "text")
      .withColumnRenamed("id", "doc_id")).orderBy("doc_id")

  /** Set-measure sample (A32/A33/A34/A35 as integer numerators/denominators)
    * over token SETS of low-id doc pairs. */
  def simMeasures(s: SparkSession, dir: String): DataFrame = {
    val t = docs(s, dir).where(col("doc_id") < 40)
      .select(col("doc_id"), array_distinct(tokens(col("text"))).as("ts"))
    val a = t.select(col("doc_id").as("a"), col("ts").as("ta"))
    val b = t.select(col("doc_id").as("b"), col("ts").as("tb"))
    a.join(b, col("a") < col("b"))
      .select(col("a"), col("b"),
        size(array_intersect(col("ta"), col("tb"))).cast("long").as("inter"),
        size(col("ta")).cast("long").as("na"),
        size(col("tb")).cast("long").as("nb"))
      .withColumn("uni", col("na") + col("nb") - col("inter"))
      .withColumn("dice_num", lit(2L) * col("inter"))
      .withColumn("overlap_den", least(col("na"), col("nb")))
      .withColumn("relnum_millis",
        expr("(least(na, nb) * 1000) div greatest(na, nb)"))
      .orderBy("a", "b")
  }

  // ---- candidate-pair evaluation (A20/A21) ---------------------------------

  /** Unfiltered shingle-set stats for every LSH candidate pair — the shared
    * input of the evaluation queries (verify WITHOUT the τ filter). */
  private def scoredCandidates(s: SparkSession, dir: String): DataFrame = {
    val sh = shingleTbl(s, dir)
    val cand = MinHashLsh.candidatePairs(MinHashLsh.bands(sigTbl(s, dir)))
    cand
      .join(sh.select(col("id").as("a"), col("shingles").as("sh_a")), "a")
      .join(sh.select(col("id").as("b"), col("shingles").as("sh_b")), "b")
      .select(col("a"), col("b"),
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("long").as("inter"),
        size(col("sh_a")).cast("long").as("na"),
        size(col("sh_b")).cast("long").as("nb"))
      .withColumn("uni", col("na") + col("nb") - col("inter"))
  }

  /** Precision/recall/F1 per score threshold (A21 SimilarityMeasureEvaluation):
    * gold = exact Jaccard ≥ τ, prediction = score ≥ threshold. */
  def thresholdCurve(s: SparkSession, dir: String): DataFrame = {
    val sc = scoredCandidates(s, dir)
      .withColumn("score_millis", expr("(inter * 1000) div uni"))
      .withColumn("gold", TextHash.jaccardGe(col("inter"), col("na"), col("nb")))
    Evaluation.thresholdCurve(sc.select("score_millis", "gold"))
      .orderBy("thresh_millis")
  }

  /** Weighted multi-measure candidate scores (A20 DuplicateCandidates +
    * ScoreConfig): Jaccard/Dice/Overlap milli-scores folded under the
    * default config weights. */
  def weightedScores(s: SparkSession, dir: String): DataFrame = {
    val m = scoredCandidates(s, dir)
      .withColumn("jaccard_millis", expr("(inter * 1000) div uni"))
      .withColumn("dice_millis", expr("(inter * 2000) div (na + nb)"))
      .withColumn("overlap_millis", expr("(inter * 1000) div least(na, nb)"))
    Evaluation.weightedScore(m, graft.config.ScoreConfig.default)
      .select("a", "b", "jaccard_millis", "dice_millis", "overlap_millis",
        "score_millis")
      .orderBy("a", "b")
  }

  /** All five reference blocking schemes (A37) over part, as
    * (scheme, bkey, block_size) — ONE scan for all schemes. */
  def blockingSchemes(s: SparkSession, dir: String): DataFrame = {
    val p = tbl(s, dir, "part")
    BlockingSchemes.blockingStatsOneScan(p,
      scalar = Seq(
        "simple" -> BlockingSchemes.simpleKey(col("p_name")),
        "last_letters" -> BlockingSchemes.lastLettersKey(col("p_name")),
        "grid" -> BlockingSchemes.gridKey(col("p_retailprice"), 100.0),
        "random" -> BlockingSchemes.randomKey(col("p_partkey"))),
      list = Seq("list_token" -> BlockingSchemes.tokenKeys(col("p_name"))))
      .orderBy("scheme", "bkey")
  }

  // ---- ANN over embeddings -------------------------------------------------

  private def vecs(s: SparkSession, dir: String): DataFrame =
    emb(s, dir).select(col("vec_id").as("id"), col("embedding").as("vec"))

  def annTopK(s: SparkSession, dir: String): DataFrame = {
    val c = vecs(s, dir)
    AnnSearch.bruteForceTopK(c, c.where(col("id") < 10))
      .orderBy("query_id", "rank")
  }

  def annLshBuckets(s: SparkSession, dir: String): DataFrame =
    AnnSearch.lshBuckets(vecs(s, dir))
      .select(col("id").as("vec_id"), col("bucket"))
      .orderBy("vec_id")

  /** ANN scale path end-to-end: LSH bucket join + exact cosine re-rank
    * within buckets. */
  def annLshTopK(s: SparkSession, dir: String): DataFrame = {
    val c = vecs(s, dir)
    AnnSearch.lshTopK(c, c.where(col("id") < 10))
      .orderBy("query_id", "rank")
  }

  /** Banded multi-table ANN end-to-end (the RECALL path of q31's shape:
    * union of 12 eight-plane bucket tables — GoldenConfig.AnnBandTables ×
    * AnnBandPlanes — instead of one 16-plane table; see
    * AnnSearch.lshBucketsBanded for the collision math). */
  def annBandedTopK(s: SparkSession, dir: String): DataFrame = {
    val c = vecs(s, dir)
    AnnSearch.lshTopKBanded(c, c.where(col("id") < 10))
      .orderBy("query_id", "rank")
  }

  /** SQ8 scalar-quantized ANN: per-dimension uint8 codes (corpus-trained
    * min/max ranges) scored by integer quantized dot product — the
    * memory-bound scale lever (4× smaller index than float32) with a
    * float-free, exactly-hashable result. */
  def sq8AnnTopK(s: SparkSession, dir: String): DataFrame = {
    val c = vecs(s, dir)
    AnnSearch.sq8TopK(c, c.where(col("id") < 10))
      .orderBy("query_id", "rank")
  }

  /** PQ-ADC ANN: the corpus compresses to 8×4-bit codebook indices (64×
    * smaller than float32 — the 10^12-vector memory lever, paired with
    * IVF's q40 list pruning); queries score it by per-query integer
    * lookup tables. Training, codes and ranks are exact integers over the
    * SQ8 codes, hash-matching the unrolled-Lloyd's DuckDB oracle. */
  def pqAnnTopK(s: SparkSession, dir: String): DataFrame = {
    val c = vecs(s, dir)
    AnnSearch.pqTopK(c, c.where(col("id") < 10))
      .orderBy("query_id", "rank")
  }

  /** Reciprocal-rank fusion of the exact cosine list and the SQ8
    * quantized list — hybrid retrieval with integer-exact
    * floor(1e9/(60+rank)) scores. */
  def rrfFusionQ(s: SparkSession, dir: String): DataFrame = {
    val c = vecs(s, dir)
    val q = c.where(col("id") < 10)
    AnnSearch.rrfFuse(Seq(
        AnnSearch.bruteForceTopK(c, q),
        AnnSearch.sq8TopK(c, q)))
      .orderBy("query_id", "rank")
  }

  /** DCT perceptual-hash signatures over the embedding table: each 64-dim
    * vector becomes an 8×8 block under SQ8, then the fixed-point integer
    * DCT pHash (GoldenConfig.DctCoef — no cross-engine cos()) folds its 63
    * AC median-threshold bits into (phash_hi, phash_lo). The image path
    * feeds the same operator 8×8 box-downscaled grayscale instead. */
  def phashDctQ(s: SparkSession, dir: String): DataFrame =
    mapOnce(images.PerceptualHash.signatures(
        AnnSearch.sq8Encode(vecs(s, dir)), "id", "code")
      .withColumnRenamed("id", "vec_id"))
      .orderBy("vec_id")

  /** pHash near-dup pairs via the pigeonhole band join, proven lossless
    * against a BRUTE-FORCE oracle: signatures from [[phashDctQ]]'s path
    * plus planted one-bit-flipped variants (id + 1e6, AC bit id % 63)
    * joined at Hamming ≤ 3. The Spark side touches only 4 chunk-key
    * equi-joins (never all pairs — the 10^12 shape); the oracle xors and
    * popcounts every id<id pair, so a hash match certifies zero recall
    * loss within the radius. */
  def phashPairsQ(s: SparkSession, dir: String): DataFrame = {
    val sigs = images.PerceptualHash.signatures(
      AnnSearch.sq8Encode(vecs(s, dir)), "id", "code")
    val variants = sigs.selectExpr(
      "id + 1000000 AS id",
      "CASE WHEN id % 63 < 31 THEN phash_hi ^ shiftleft(1L, CAST(30 - id % 63 AS INT)) ELSE phash_hi END AS phash_hi",
      "CASE WHEN id % 63 >= 31 THEN phash_lo ^ shiftleft(1L, CAST(62 - id % 63 AS INT)) ELSE phash_lo END AS phash_lo")
    images.PerceptualHash.nearDupPairs(sigs.unionByName(variants), maxDist = 3)
      .orderBy("a", "b")
  }

  /** As-of (point-in-time) join: each event picks up the latest order of
    * the same customer at-or-before its timestamp — the union-merge
    * formulation (one shuffle + sort, O(n+m) per key), never a per-key
    * cartesian inequality join. Oracle = the same window algebra in
    * DuckDB, cross-checked there against correlated-subquery semantics. */
  def asofJoinQ(s: SparkSession, dir: String): DataFrame =
    AsOfJoin.asOf(
        tbl(s, dir, "events").select("event_id", "user_id", "ts"),
        tbl(s, dir, "orders"),
        leftKey = "user_id", leftTime = "ts",
        rightKey = "o_custkey", rightTime = "o_orderdate",
        rightTie = "o_orderkey", payload = Seq("o_orderkey", "o_totalprice"))
      .select(col("event_id"), col("user_id"),
        col("asof_o_orderkey").as("asof_orderkey"),
        col("asof_o_totalprice").as("asof_price"))
      .orderBy("event_id")

  /** Per-source HyperLogLog registers over token hashes — count-distinct
    * as a mergeable O(2^p)-sized sketch instead of shuffling every
    * distinct key. The register table (bucket, max-rho) is the contract
    * (pure integers — hash-exact); the float estimate stays out of it. */
  def hllRegistersQ(s: SparkSession, dir: String): DataFrame =
    Sketches.hllRegisters(
        docs(s, dir).select(col("source"), explode(tokens(col("text"))).as("tok"))
          .withColumn("h", functions.GraftExpressions.strHash(col("tok"))),
        "source", col("h"))
      .select(col("grp").as("source"), col("bucket"), col("register"))
      .orderBy("source", "bucket")

  /** Corpus-wide count-min sketch over token occurrences: the occupied
    * (depth, bucket, count) cells — integer contract, mergeable by cell
    * addition, O(depth·width) shuffle regardless of distinct-token count. */
  def countMinQ(s: SparkSession, dir: String): DataFrame =
    Sketches.countMin(
        docs(s, dir).select(explode(tokens(col("text"))).as("tok"))
          // the codegen kernel hash: cmCells references it CmDepth times,
          // and the interpreted char-fold builtin inlined 4× was 10 s at
          // sf0.1 vs ~1 s compiled (README "custom Catalyst expressions")
          .withColumn("h", functions.GraftExpressions.strHash(col("tok"))),
        col("h"))
      .orderBy("d", "bucket")

  /** Z-order (Morton) layout keys over orders: the interleaved
    * (o_custkey, o_orderkey) key that makes file-level min/max stats
    * prune on both columns after a range-repartition-and-sort. */
  def zorderQ(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "orders")
      .select(col("o_orderkey"),
        ZOrder.zKey(col("o_custkey"), col("o_orderkey")).as("z"))
      .orderBy("o_orderkey")

  /** Bucketed range (interval) join: every purchase event opens a 1-hour
    * [ts, ts+1h) window per user; all events of that user inside the
    * window attach to it. The chunked equi-join shape (≤2 chunks per
    * interval) replaces the per-key cartesian an inequality join would
    * plan; the oracle IS the raw inequality join, so a hash match proves
    * the bucketing loses nothing. */
  def rangeJoinQ(s: SparkSession, dir: String): DataFrame = {
    val hourUs = 3600000000L
    val ev = tbl(s, dir, "events")
      .select(col("event_id"), col("user_id"), unix_micros(col("ts").cast("timestamp")).as("pt"))
    val iv = tbl(s, dir, "events").where(col("event_type") === "purchase")
      .select(col("event_id").as("anchor_id"), col("user_id").as("a_user"),
        unix_micros(col("ts").cast("timestamp")).as("st"),
        (unix_micros(col("ts").cast("timestamp")) + hourUs).as("en"))
    RangeJoin.pointInInterval(ev, "user_id", "pt", iv, "a_user", "st", "en", hourUs)
      .select(col("event_id"), col("anchor_id"))
      .orderBy("event_id", "anchor_id")
  }

  /** Exact per-source percentiles (p50/p90/p99 of n_chars) the scale-safe
    * way: a (source, value) histogram agg (map-side combining, domain- not
    * row-sized), a running sum over VALUES (window partitions bounded by
    * the value domain, never by corpus rows), then the smallest value whose
    * cumulative count reaches ceil(p·n/100) — the lower-rank percentile,
    * integer-exact (no percentile_approx sketch drift cross-engine). */
  def percentilesQ(s: SparkSession, dir: String): DataFrame =
    Percentiles.exactPercentiles(docs(s, dir), "source", "n_chars",
        Seq(50, 90, 99))
      .orderBy("source")

  /** Embedding-cosine near-dup pairs (bucketed candidates + exact cosine
    * threshold; τ pinned to 0.4 for the synthetic embeddings — their max
    * pairwise cosine is 0.47, so a production-like 0.95 matches nothing). */
  def embeddingNearDup(s: SparkSession, dir: String): DataFrame =
    AnnSearch.nearDupPairs(vecs(s, dir), tau = 0.4)
      .select(col("a").as("vec_a"), col("b").as("vec_b"))
      .orderBy("vec_a", "vec_b")

  /** Audio modality surface (B16): deterministic audio table derived from
    * documents (bytes = UTF-8 of the text, duration from its length) →
    * hop-window features → majority-vote 64-bit fingerprints. The stub PCM
    * decode is wrapping 64-bit JVM arithmetic, emulated exactly by the
    * DuckDB oracle in HUGEINT mod 2^64 (see OracleSql's q39 comment) —
    * hash-exact since round 4; semantics also pinned by AudioOpsSpec. */
  def audioFingerprints(s: SparkSession, dir: String): DataFrame = {
    val audio = docs(s, dir).select(col("doc_id").as("audio_id"),
      col("text").cast("binary").as("bytes"),
      (length(col("text")).cast("long") * 20L + 1000L).as("duration_ms"))
    graft.audio.AudioOps.fingerprints(
        graft.audio.AudioOps.featureTable(audio, "audio_id", "bytes", "duration_ms"))
      .select(col("id").as("audio_id"), col("simhash").as("fingerprint"))
      .orderBy("audio_id")
  }

  /** IVF ANN end-to-end: deterministic-seed k-means lists + probe + exact
    * re-rank. Centroids are fixed-point integer sums (order-independent —
    * see AnnSearch.ivfCentroids), so the whole pipeline is hash-exact
    * against the unrolled-Lloyd's DuckDB oracle; AnnAndTextSpec pins
    * exactness (nprobe = nlist ≡ brute force) and recall. */
  def annIvfTopK(s: SparkSession, dir: String): DataFrame = {
    val c = vecs(s, dir)
    AnnSearch.ivfTopK(c, c.where(col("id") < 10), nlist = 8, nprobe = 4)
      .orderBy("query_id", "rank")
  }

  /** SemDeDup semantic dedup end-to-end over the embeddings table:
    * deterministic k-means clusters → intra-cluster cosine ≥ τ pairs →
    * semantic groups → keep the member farthest from its centroid. τ
    * pinned to 0.4 (synthetic embeddings' max pairwise cosine is 0.47) and
    * nlist to 8 so the unrolled-Lloyd's DuckDB oracle (q40's chain)
    * reproduces the quantizer bit-exactly. */
  def semanticDedup(s: SparkSession, dir: String): DataFrame =
    AnnSearch.semanticDedup(vecs(s, dir), tau = 0.4, nlist = 8)
      .select(col("id").as("vec_id"), col("group_id"), col("keep"))
      .orderBy("vec_id")

  /** Incremental (master × staging) dedup — the reference's dual-input
    * blocking shape (A11): verified near-dup CROSS pairs between a master
    * split and a staging split of documents (staging = doc_id % 4 == 0).
    * Exercises [[SkewSalting.crossJoinPairs]] /
    * [[MinHashLsh.candidatePairsAgainst]]: corpus buckets with no staging
    * row never shuffle. */
  def crossDedupPairs(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val master = d.where(col("doc_id") % 4 =!= 0)
    val staging = d.where(col("doc_id") % 4 === 0)
    val sh = MinHashLsh.shingleTable(master, "doc_id", "text")
      .unionByName(MinHashLsh.shingleTable(staging, "doc_id", "text"))
    val cand = MinHashLsh.candidatePairsAgainst(
      MinHashLsh.bands(MinHashLsh.signaturesFromText(master, "doc_id", "text")),
      MinHashLsh.bands(MinHashLsh.signaturesFromText(staging, "doc_id", "text")))
    MinHashLsh.verifyPairs(cand, sh).orderBy("a", "b")
  }

  /** Incremental clustering end-to-end: master clusters ∪ cross edges ∪
    * staging structure → connected components over all rows — the q41
    * candidate path ([[MinHashLsh.candidatePairsAgainst]]) with the master's
    * own pairs and the exact cross edges, through CC, i.e. what an import's
    * cluster assignment is made of. Edges are rep-level (exact classes
    * collapse first); the oracle derives the same components from
    * all-pairs SQL, and identical components ⇒ identical min-id labels ⇒
    * hash match. */
  def crossDedupClusters(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val master = d.where(col("doc_id") % 4 =!= 0)
    val staging = d.where(col("doc_id") % 4 === 0)
    // Rep-level CC (see docClusters): exactCollapse and the shingle tables
    // are computed ONCE per split (a master pass and a cross pass built
    // apart would each re-derive the master collapse), and the star edges
    // of both splits stay out of the iterated edge set — members inherit
    // their rep's cluster by one join. Identical components ⇒ identical
    // min-id labels (every rep is its text group's min id).
    val (repsM, starM) = MinHashLsh.exactCollapse(master, "doc_id", "text")
    val (repsS, starS) = MinHashLsh.exactCollapse(staging, "doc_id", "text")
    val exactCross = repsM.withColumnRenamed("id", "a")
      .join(repsS.withColumnRenamed("id", "b"), "text")
      .select(col("a"), col("b"))
    val sh = MinHashLsh.shingleTable(repsM, "id", "text")
      .unionByName(MinHashLsh.shingleTable(repsS, "id", "text"))
      .localCheckpoint(false)
    val masterCand = MinHashLsh.candidatePairs(
      MinHashLsh.bands(MinHashLsh.signaturesFromText(repsM, "id", "text")))
    val crossCand = MinHashLsh.candidatePairsAgainst(
      MinHashLsh.bands(MinHashLsh.signaturesFromText(repsM, "id", "text")),
      MinHashLsh.bands(MinHashLsh.signaturesFromText(repsS, "id", "text")))
    val repEdges = MinHashLsh.verifyPairs(masterCand.unionByName(crossCand), sh)
      .select(col("a"), col("b")).unionByName(exactCross)
    val repClusters = ConnectedComponents.run(s, repEdges,
        Some(repsM.select(col("id")).unionByName(repsS.select(col("id")))))
      .localCheckpoint(false)
    repClusters.unionByName(
      starM.unionByName(starS)
        .join(repClusters.withColumnRenamed("id", "_r"), col("a") === col("_r"))
        .select(col("b").as("id"), col("cluster_id")))
      .select(col("id").as("doc_id"), col("cluster_id"))
      .orderBy("doc_id")
  }

  /** Training-data curation chain as ONE query: quality filter → language
    * filter → near-dup clustering of the survivors — the canonical
    * filter-then-dedup corpus recipe, driver-gated end to end. Filters are
    * semi-joins (map-side with a broadcast id set at scale); the dedup
    * stage is the standard collapse→LSH→verify→CC path on the kept rows
    * only. */
  def corpusCuration(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val okQuality = TextAnalysis.qualityScore(d, "doc_id", "text")
      .where(col("quality_ok")).select(col("id").as("doc_id"))
    val okLang = TextAnalysis.langId(d, "doc_id", "text")
      .where(col("lang_guess") === "en").select(col("id").as("doc_id"))
    val kept = d.join(okQuality, Seq("doc_id"), "left_semi")
      .join(okLang, Seq("doc_id"), "left_semi")
    docClusters(s, kept)
      .select(col("id").as("doc_id"), col("cluster_id"))
      .orderBy("doc_id")
  }

  /** Whitespace vs BPE-ish pretoken counts per doc (builder prompt:
    * "token counting (whitespace + a BPE-ish regex)"). */
  def tokenBpeish(s: SparkSession, dir: String): DataFrame =
    mapOnce(TextAnalysis.tokenCounts(docs(s, dir), "doc_id", "text")
      .withColumnRenamed("id", "doc_id"))
      .orderBy("doc_id")

  /** Deterministic Bernoulli sample of documents (layout-independent:
    * pinned-LCG row keys, not Spark's partition-seeded sample). */
  def sampleBernoulli(s: SparkSession, dir: String): DataFrame =
    Sampling.bernoulli(docs(s, dir).select(col("doc_id")), "doc_id",
        rateMillis = 200)
      .orderBy("doc_id")

  /** Deterministic stratified sample: 5 docs per token-count decade,
    * ranked by the pinned sampling key. */
  def sampleStratified(s: SparkSession, dir: String): DataFrame =
    Sampling.stratifiedTopK(
        docs(s, dir)
          .select(col("doc_id"), size(tokens(col("text"))).cast("long").as("n_tokens"))
          .select(col("doc_id"), expr("n_tokens div 10").as("stratum")),
        "doc_id", "stratum", k = 5)
      .select(col("doc_id"), col("stratum"), col("sample_rank"))
      .orderBy("doc_id")

  /** Leakage-free train/eval split: the split is decided per near-dup
    * CLUSTER (pinned sampling key of cluster_id), so two near-duplicates
    * can never straddle train and eval — the standard contamination
    * guard a dedup engine exists to enable. 90/10 split. */
  def splitLeakFree(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    docClusters(s, d)
      .select(col("id").as("doc_id"), col("cluster_id"))
      .withColumn("split",
        when(Sampling.sampleKey(col("cluster_id")) % 1000L < 900L, lit("train"))
          .otherwise(lit("eval")))
      .orderBy("doc_id")
  }

  /** PII detection + redaction over documents (training-data hygiene):
    * per-doc match counts for emails / IPv4s / phone-like digit runs and
    * the redacted text. Pure map-side codegen'd regex scan. */
  def piiScrub(s: SparkSession, dir: String): DataFrame =
    mapOnce(TextAnalysis.piiScrub(docs(s, dir), "doc_id", "text")
      .withColumnRenamed("id", "doc_id"))
      .orderBy("doc_id")

  /** Eval-benchmark contamination check: eval set = doc_id % 17 == 0,
    * corpus = the rest; per eval doc the share of its distinct 8-gram
    * hashes present anywhere in the corpus (broadcast-filtered — the
    * corpus is scanned once, never shuffled by gram). */
  def contamination(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    TextAnalysis.contamination(
        d.where(col("doc_id") % 17L =!= 0L), d.where(col("doc_id") % 17L === 0L),
        "doc_id", "text")
      .withColumnRenamed("id", "doc_id")
      .orderBy("doc_id")
  }

  /** Balanced source mixture: every `source` stratum deterministically
    * downsampled to the smallest stratum's size — equal-parts corpus
    * mixing (layout-independent keys, straggler-proof aggregate). */
  def balancedMix(s: SparkSession, dir: String): DataFrame =
    Sampling.balancedMix(docs(s, dir), "doc_id", "source")
      .select(col("doc_id"), col("source"), col("sample_rank"))
      .orderBy("doc_id")

  /** Incremental embedding near-dup — the ANN sibling of q41's
    * master×staging split: verified banded CROSS pairs between a corpus
    * (vec_id % 4 ≠ 0) and a delta batch (% 4 = 0), τ = 0.4 (the testdata
    * regime, as q36). Corpus buckets with no delta row drop map-side. */
  def embeddingCrossNearDup(s: SparkSession, dir: String): DataFrame = {
    val c = vecs(s, dir)
    AnnSearch.nearDupPairsBandedAgainst(
        c.where(col("id") % 4L =!= 0L), c.where(col("id") % 4L === 0L), tau = 0.4)
      .select(col("a").as("vec_a"), col("b").as("vec_b"))
      .orderBy("vec_a", "vec_b")
  }

  /** Quality-aware keeper per near-dup cluster — the production "which
    * duplicate survives" policy: cluster docs end-to-end, then keep the
    * member with the highest lexical diversity (n_distinct tokens, ties →
    * lowest doc_id). Keeper selection is one map-side-combining
    * max(struct) aggregate per cluster + a join-back — no window, no
    * straggler. Output: (doc_id, cluster_id, keeper). */
  def keepBest(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val clusters = docClusters(s, d)
      .select(col("id").as("doc_id"), col("cluster_id"))
    val q = TextAnalysis.qualityScore(d, "doc_id", "text")
      .select(col("id").as("doc_id"), col("n_distinct"))
    val scored = clusters.join(q, "doc_id")
    val keepers = scored.groupBy("cluster_id")
      .agg(max(struct(col("n_distinct").as("s"), negate(col("doc_id")).as("nid"))).as("best"))
      .select(col("cluster_id"), negate(col("best")("nid")).cast("long").as("keeper"))
    scored.select("doc_id", "cluster_id").join(keepers, "cluster_id")
      .select("doc_id", "cluster_id", "keeper").orderBy("doc_id")
  }

  /** Intra-document repetition score (duplicate-8-gram share — the
    * Gopher-style repetition quality filter). */
  def repetitionScore(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.repetition(docs(s, dir), "doc_id", "text")
      .withColumnRenamed("id", "doc_id")
      .orderBy("doc_id")

  /** Duplicate-line-fraction repetition signal (Gopher's second repetition
    * filter next to q50's duplicate-gram share). The driver's synthetic
    * documents carry no newline bytes, so the vocabulary word " line "
    * serves as the literal separator here (non-degenerate on this data);
    * the operator itself defaults to "\n" — see TextAnalysis.dupLineStats
    * and the multi-line fixtures in its spec. */
  def dupLines(s: SparkSession, dir: String): DataFrame =
    mapOnce(TextAnalysis.dupLineStats(docs(s, dir), "doc_id", "text", sep = " line ")
      .withColumnRenamed("id", "doc_id"))
      .orderBy("doc_id")

  /** Corpus-wide exact line dedup (RefinedWeb/C4-style sub-document
    * curation): every repeated line keeps only its first corpus occurrence
    * and documents are reassembled from survivors. Same " line " separator
    * convention as q55 (the synthetic docs carry no newline bytes). */
  def dedupLinesCorpus(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.dedupLinesAcrossCorpus(docs(s, dir), "doc_id", "text", sep = " line ")
      .withColumnRenamed("id", "doc_id")
      .orderBy("doc_id")

  /** C4-style line cleaning: keep lines with ≥ 3 words whose lowercase
    * form avoids the boilerplate substrings, reassemble documents from
    * survivors. Same " line " separator convention as q55; "dup" is a
    * substring that actually occurs in the synthetic vocabulary, so the
    * bad-phrase gate fires on this data (terminal-punctuation gate is
    * exercised in the spec — the synthetic docs carry no punctuation). */
  def cleanLinesQ(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.cleanLines(docs(s, dir), "doc_id", "text", sep = " line ",
        minWords = 3, badSubstrings = Seq("lorem ipsum", "dup"))
      .withColumnRenamed("id", "doc_id")
      .orderBy("doc_id")

  /** Exact substring-span dedup (Lee et al. 2022 ExactSubstr as the
    * l-gram cover, l = GoldenConfig.SubstringL = 8): every duplicated run
    * of ≥ 8 tokens is removed from all but its first corpus occurrence
    * and documents are reassembled from the surviving tokens. The
    * testdata plants shared caption runs (q27's suffix-array pairs are
    * non-empty on it), so the operator is non-degenerate here. */
  def dedupSpansQ(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.dedupSpansAcrossCorpus(docs(s, dir), "doc_id", "text")
      .withColumnRenamed("id", "doc_id")
      .orderBy("doc_id")

  /** The pinned synthetic variants that make every Gopher rule fire
    * variably on the punctuation-free testdata: doc_id mod 4 = 0 appends
    * ten bullet lines, 1 appends six ellipsis-terminated lines, 2 appends
    * fifteen '#' symbols, 3 is untouched. Shared verbatim with the DuckDB
    * oracle (same CASE). */
  private[graft] val GopherBullets: String =
    " line - one line - two line - three line - four line - five" +
      " line - six line - seven line - eight line - nine line - ten"
  private[graft] val GopherEllipses: String =
    " line so it goes... line wait for it... line more soon..." +
      " line to be continued... line really... line okay..."
  private[graft] val GopherSymbols: String = " ##### ##### #####"

  /** Gopher-rule quality gate over the documents table. Same " line "
    * separator convention as q55; the required-stopword set is adapted to
    * the synthetic vocabulary ('and'/'of'/… never occur in it — q62's
    * corpus-vocab evidence), and deterministic per-doc variants (above)
    * exercise the bullet/ellipsis/symbol rules the raw data cannot. */
  def gopherRulesQ(s: SparkSession, dir: String): DataFrame = {
    val varied = docs(s, dir).withColumn("text",
      when(pmod(col("doc_id"), lit(4)) === 0, concat(col("text"), lit(GopherBullets)))
        .when(pmod(col("doc_id"), lit(4)) === 1, concat(col("text"), lit(GopherEllipses)))
        .when(pmod(col("doc_id"), lit(4)) === 2, concat(col("text"), lit(GopherSymbols)))
        .otherwise(col("text")))
    mapOnce(TextAnalysis.gopherRules(varied, "doc_id", "text", sep = " line ",
        minWords = 20, maxWords = 1000,
        requiredStopwords = Seq("the", "a", "data", "key", "table", "join"),
        minStop = 4)
      .withColumnRenamed("id", "doc_id"))
      .orderBy("doc_id")
  }

  /** Vocabulary coverage: top-20 corpus vocabulary (the synthetic corpus
    * has ~40 distinct words, so 20 keeps the OOV rate non-degenerate) and
    * each document's out-of-vocab token share. */
  def vocabCoverageQ(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.vocabCoverage(docs(s, dir), "doc_id", "text", vocabSize = 20)
      .withColumnRenamed("id", "doc_id")
      .orderBy("doc_id")

  /** Temperature-flattened source mixture (τ = 2): sources downsampled
    * with probability √(minCnt/n) — between proportional and equal-parts
    * mixing. Map-side keep decision on the pinned sampling key. */
  def temperatureMix(s: SparkSession, dir: String): DataFrame =
    Sampling.temperatureMix(docs(s, dir), "doc_id", "source")
      .select(col("doc_id"), col("source"))
      .orderBy("doc_id")

  /** Sequence packing (concat-and-chunk training assembly): global token
    * offsets in doc_id order via the bounded two-level prefix sum, then
    * each document's first/last 2048-token context chunk. */
  def sequencePack(s: SparkSession, dir: String): DataFrame =
    Packing.sequencePack(
        docs(s, dir).select(col("doc_id"),
          size(split(lower(col("text")), " ")).cast("long").as("n_tokens")),
        "doc_id", "n_tokens", ctxLen = 2048L)
      .withColumnRenamed("id", "doc_id")
      .orderBy("doc_id")

  /** URL normalization as a pre-collapse dedup key. The testdata carries
    * no URL column, so deterministic scheme/www/host-case/trailing-slash/
    * fragment VARIANTS of one address are derived per document and
    * normalized — all three variants of a document must share norm_url
    * (the collapse the spec pins; the oracle pins the exact recipe). */
  def urlNormalize(s: SparkSession, dir: String): DataFrame = {
    val host = concat(lit("Example"), pmod(col("doc_id"), lit(7L)), lit(".COM"))
    val path = concat(lit("/docs/"), col("doc_id"))
    val variants = array(
      concat(lit("https://www."), host, path),
      concat(lit("HTTP://"), lower(host), path, lit("/")),
      concat(lit("www."), host, path, lit("#frag")),
      concat(lit("https://"), host, path, lit("/?Ref=X")))
    mapOnce(docs(s, dir).select(col("doc_id"), explode(variants).as("url"))
      .withColumn("norm_url", TextAnalysis.normalizeUrl(col("url"))))
      .orderBy("doc_id", "url")
  }

  // ---- relational operators (reference A-rows over TPC-H-ish tables) -------

  def aggPricing(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "lineitem")
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(expr("cast(round(l_quantity * 100) AS bigint)")).as("sum_qty_c"),
        sum(expr("cast(round(l_extendedprice * 100) AS bigint)")).as("sum_price_c"),
        count(lit(1)).as("cnt"))
      .orderBy("l_returnflag", "l_linestatus")

  def joinRevenue(s: SparkSession, dir: String): DataFrame = {
    val li = tbl(s, dir, "lineitem")
      .select(col("l_orderkey"),
        expr("cast(round(l_extendedprice * (100 - cast(round(l_discount*100) AS bigint))) AS bigint)").as("rev_c"))
    val o = tbl(s, dir, "orders")
    o.join(li, o("o_orderkey") === li("l_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(sum(col("rev_c")).as("revenue_c"), count(lit(1)).as("n_items"))
      .orderBy("o_orderpriority")
  }

  def semiAnti(s: SparkSession, dir: String): DataFrame = {
    val c = tbl(s, dir, "customer")
    val o = tbl(s, dir, "orders").select(col("o_custkey"))
    val withO = c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
      .groupBy(col("c_nationkey")).agg(count(lit(1)).as("n_with"))
    val withoutO = c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
      .groupBy(col("c_nationkey")).agg(count(lit(1)).as("n_without"))
    withO.join(withoutO, Seq("c_nationkey"), "full_outer")
      .select(col("c_nationkey").cast("long").as("nationkey"),
        coalesce(col("n_with"), lit(0L)).as("n_with"),
        coalesce(col("n_without"), lit(0L)).as("n_without"))
      .orderBy("nationkey")
  }

  def windowTopK(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    tbl(s, dir, "orders")
      .withColumn("rnk", row_number().over(w).cast("long"))
      .where(col("rnk") <= 2)
      .select(col("o_custkey"), col("rnk"), col("o_orderkey"))
      .orderBy("o_custkey", "rnk")
  }

  def setOps(s: SparkSession, dir: String): DataFrame = {
    val c = tbl(s, dir, "customer").select(col("c_nationkey").cast("long").as("nationkey")).distinct()
    val sup = tbl(s, dir, "supplier").select(col("s_nationkey").cast("long").as("nationkey")).distinct()
    c.intersect(sup).withColumn("op", lit("intersect"))
      .unionByName(c.except(sup).withColumn("op", lit("except")))
      .unionByName(c.union(sup).distinct().withColumn("op", lit("union")))
      .select(col("op"), col("nationkey"))
      .orderBy("op", "nationkey")
  }

  def jsonEvents(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "events")
      .select(col("event_type"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .groupBy("event_type")
      .agg(sum(col("k")).as("sum_k"), count(lit(1)).as("n"))
      .orderBy("event_type")

  /** SimpleBlockingScheme (A37): first-3-chars blocking key + block sizes. */
  def blockingStats(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "part")
      .groupBy(substring(lower(col("p_name")), 1, 3).as("bkey"))
      .agg(count(lit(1)).as("block_size"))
      .orderBy("bkey")

  /** Block-size histogram (A17 BlockEvaluation). */
  def blockHistogram(s: SparkSession, dir: String): DataFrame =
    blockingStats(s, dir)
      .groupBy(col("block_size"))
      .agg(count(lit(1)).as("n_blocks"))
      .orderBy("block_size")

  /** Sessionization over the events stream (the classic ordered-sequence
    * windowed op): a user's events, ordered by (ts, event_id), split into
    * sessions wherever the gap from the previous event exceeds 30 minutes;
    * one row per session with its size and bounds (epoch seconds).
    * Per-user ordering is inherently one window task per user — the same
    * bounded-sequence caveat as A39 versioning (a single user's event
    * count is bounded in practice; it does not grow with corpus size). */
  def sessionize(s: SparkSession, dir: String): DataFrame = {
    // NULLS LAST pinned explicitly: Spark windows default to NULLS FIRST,
    // DuckDB to NULLS LAST — latent oracle divergence if ts were ever NULL
    val w = Window.partitionBy("user_id")
      .orderBy(col("tsec").asc_nulls_last, col("event_id").asc_nulls_last)
    tbl(s, dir, "events")
      .select(col("user_id"), col("event_id"),
        // ts is TIMESTAMP_NTZ: route through timestamp under the pinned
        // UTC session tz, then epoch seconds (floor) — matches the
        // oracle's epoch_us // 1e6 over DuckDB's naive timestamp
        col("ts").cast("timestamp").cast("long").as("tsec"))
      .withColumn("prev", lag(col("tsec"), 1).over(w))
      .withColumn("ns",
        when(col("prev").isNull || col("tsec") - col("prev") > 1800L, 1L).otherwise(0L))
      .withColumn("session_seq",
        sum(col("ns")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "session_seq")
      .agg(count(lit(1)).as("n_events"),
        min(col("tsec")).as("start_s"), max(col("tsec")).as("end_s"))
      .orderBy("user_id", "session_seq")
  }

  /** Entity version summary over the events stream (A39 versioning):
    * first/last/current values per user in (ts, event_id) order. */
  def versionHistory(s: SparkSession, dir: String): DataFrame = {
    val ev = tbl(s, dir, "events")
      .withColumn("value_c", expr("cast(round(value * 100) AS bigint)"))
    Versioning.versionSummary(ev, "user_id", "ts", "event_id",
      Seq("event_type", "value_c"))
      .orderBy("user_id")
  }

  /** Word count over stopword-filtered + stemmed tokens (A27 variants). */
  def wordCountStemmed(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.wordCountStemmed(docs(s, dir), "doc_id", "text")
      .orderBy("token")

  /** Production tokenizer variant: full stopword set + Porter-style
    * longest-suffix stemmer (A27 realism; q33 keeps the pinned tiny
    * defaults). */
  def wordCountRich(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.wordCountStemmed(docs(s, dir), "doc_id", "text",
      stopwords = TextAnalysis.StopwordsFull, stem = TextAnalysis.stemTokenFull)
      .orderBy("token")

  /** Integer tf-idf vectors over documents (A38). */
  def tfidfVectors(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.tfidf(docs(s, dir), "doc_id", "text")
      .withColumnRenamed("id", "doc_id")
      .orderBy("doc_id", "token")

  /** Exact integer tf-idf cosine components for low-id doc pairs (A38). */
  def tfidfCosine(s: SparkSession, dir: String): DataFrame = {
    val v = TextAnalysis.tfidf(docs(s, dir), "doc_id", "text")
      .where(col("id") < 30)
    TextAnalysis.tfidfCosine(v).orderBy("a", "b")
  }
}
