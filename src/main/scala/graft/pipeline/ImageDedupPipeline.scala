package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.config.GoldenConfig._
import graft.operators.{MinHashLsh, SkewSalting, TextAnalysis, ConnectedComponents}
import graft.images.ImageCodec

/** The flagship job (BASELINE.json north_star): near-duplicate detection +
  * clustering over the input_hint table
  * (image_id, bytes, w, h, fmt, caption, phash) — replacing the reference's
  * Blocking → DuplicateCandidates → master-resolution chain
  * (R:.../deduplication/{Blocking,DuplicateCandidates}.scala, SURVEY §3.1)
  * with one Catalyst-planned Dataset dataflow:
  *
  *   scan ─┬ caption: shingle→MinHash→LSH bands          ┐ one (scheme, bucket)
  *         ├ caption: L-gram substring pass                ├ salted self-join
  *         ├ image: (caption, phash-chunk) composite block ┘  → verify → CC
  *         └ exact: (caption, bytes-hash) collapse → star edges (lossless)
  *
  * Duplicate semantics (pinned): two rows are duplicates iff
  *   caption-near (equal captions, OR exact Jaccard ≥ τ on 3-shingles, OR a
  *   shared ≥L-token run)  AND  image-near (identical bytes, OR phash
  *   Hamming ≤ 3 AND decoded PSNR ≥ 40 dB). The viral-caption fixture
  *   (identical caption, unrelated pixels) is therefore a NON-duplicate —
  *   rejected by the integer Hamming prefilter before any decode, not by
  *   dropping oversized blocks like the reference's maxBlockSize guard
  *   (recall-lossy A10; we salt instead, B7).
  *
  * Scale notes: `bytes` is projected out at the door and re-joined ONLY for
  * verified-candidate PSNR checks (column pruning keeps the 100 TB payload
  * out of every shuffle); exact dups collapse before any signature work;
  * the bucket self-join goes through SkewSalting.
  */
object ImageDedupPipeline {

  val psnrUdf = udf((a: Array[Byte], b: Array[Byte]) =>
    if (a == null || b == null) 0.0 else ImageCodec.psnr(a, b))

  /** Checkpointed run (resumable): works with any [[StageStore]] — a
    * parquet-dir [[StageCheckpoint]] or a catalog/Iceberg-path
    * [[CatalogStageCheckpoint]]. */
  def run(spark: SparkSession, input: DataFrame, ckpt: StageStore): DataFrame = {
    val s1Fresh = !ckpt.isDone("s1_annotated")
    val annotated = ckpt.stage("s1_annotated")(annotate(input))
    // A clustering run KNOWS which corpus its snapshots derive from —
    // record the fingerprint IncrementalImageDedup enforces, so a later
    // import reusing this store's s1/s2 snapshots runs verified (only
    // when this run staged s1 itself, into a durable store)
    if (s1Fresh && ckpt.isDone("s1_annotated") && !ckpt.isDone("inc_corpus_fprint"))
      stageFingerprint(spark, ckpt, "inc_corpus_fprint", fingerprint(input))
    val starEdges = ckpt.stage("s1_star_edges")(starEdgesOf(annotated))
    val shingleTbl = ckpt.stage("s2_shingles")(shingleGramTable(capRepsOf(annotated)))
    val (capPairs, samePairs) = candidates(annotated, ckpt)

    // ---- stage: verify — caption criterion AND image criterion
    val verified = ckpt.stage("s6_verified_edges") {
      val members = membersOf(annotated)
      verifyLadder(capPairs, shingleTbl, shingleTbl, members, members, samePairs,
        repsOf(annotated),
        input.select(col("image_id"), col("bytes")))
    }

    // ---- stage: connected components over verified ∪ exact-star edges;
    // the job's store also takes CC's periodic reliable checkpoints, so an
    // executor-loss restart resumes mid-iteration instead of re-running the
    // whole O(log² n) loop (localCheckpoint alone is not fault-tolerant).
    // The edges are canonical (distinct, a < b): verified pairs are
    // (least, greatest) reps of two captions or self-join pairs of one,
    // star edges are (rep = class min, member), and a member is no rep.
    ckpt.stage("s7_clusters") {
      val edges = verified.select("a", "b").unionByName(starEdges.select("a", "b"))
      ConnectedComponents.run(spark, edges,
        Some(annotated.select(col("image_id").as("id"))),
        store = Some(ckpt), edgesCanonical = true)
        .select(col("id").as("image_id"), col("cluster_id"))
    }
  }

  /** Bench/throughput run: no stage snapshots — multiply-consumed
    * intermediates are localCheckpoint'ed, everything else stays a lazy
    * plan (recompute-over-store; on a real cluster the input comes from a
    * table, not a generator). `localCheckpoint(false)` defers only the
    * final stage: under AQE (on by default) the call itself runs every
    * shuffle map stage of its plan as a job on the spot. */
  def runDirect(spark: SparkSession, input: DataFrame): DataFrame =
    run(spark, input, directStore(Set("s1_annotated", "s2_shingles", "s6_verified_edges")))

  /** The store of both pipelines' direct runs: the `reuse` stages are
    * localCheckpoint'ed, every other stage stays a plan. A stage that `run`
    * reads more than once belongs in `reuse`, except s3_candidate_pairs:
    * the verify ladder reads it twice (caption pairs, row pairs) in two
    * concurrent stages, which compute a lazy checkpoint twice. CC's
    * periodic `cc_edges_*` commits degrade to plain lineage truncation (a
    * direct run has no durability requirement). */
  private[pipeline] def directStore(reuse: Set[String]): StageStore = new StageStore {
    def stage(name: String)(compute: => DataFrame): DataFrame =
      if (reuse(name) || name.contains("cc_edges_")) compute.localCheckpoint(false)
      else compute
  }

  /** ONE windowed annotation pass over the scan — the exact-dup
    * representative (rep = min id per (caption, bytes_hash), lossless
    * collapse) and the caption representative (cid = min id per caption, the
    * 3rd collapse layer: identical captions share identical
    * signatures/L-grams, so the text paths run on DISTINCT captions only; a
    * 10k-member viral caption otherwise produces C(10k,2)
    * identical-signature LSH pairs). Two window mins over ONE exchange:
    * hash-partitioning on `caption` satisfies the (caption, bytes_hash)
    * clustering, so Catalyst plans a single shuffle — this replaces the
    * previous groupBy+join exact-collapse, the caption-collapse groupBy and
    * the member-map join (3 shuffles + 4 materializations → 1 + 1).
    * `bytes` never enters the dedup graph (hashed at the door). */
  private[pipeline] def annotate(input: DataFrame): DataFrame = {
    val wCap = Window.partitionBy("caption")
    val wGrp = Window.partitionBy("caption", "bytes_hash")
    input.select(col("image_id"), lower(col("caption")).as("caption"),
        col("phash"), xxhash64(col("bytes")).as("bytes_hash"))
      .withColumn("cid", min("image_id").over(wCap))
      .withColumn("rep", min("image_id").over(wGrp))
  }

  /** Shingle-HASH arrays (distinct, sorted longs) + rolling L-gram hashes,
    * both computed ONCE per caption representative — the verify stage
    * intersects hash arrays, never re-tokenizes a caption per pair. */
  private[pipeline] def shingleGramTable(capReps: DataFrame): DataFrame = {
    val t = graft.functions.TextHash.tokens(col("caption"))
    capReps.select(col("cid").as("id"),
        graft.functions.GraftExpressions.shingleHashes(t, ShingleK).as("shingles"),
        graft.functions.GraftExpressions.gramHashes(t, SubstringL).as("grams"))
      .where(col("shingles").isNotNull || col("grams").isNotNull)
  }

  /** Per-rep phash chunk rows for pigeonhole Hamming blocking WITHIN a
    * caption group: (id, bucket = xxhash64(group, chunk_idx, chunk_val)).
    * `group` is the caption-group key — `col("cid")` inside one table
    * (cheaper: a long, never the string), `col("caption")` when buckets
    * must align across two independently-annotated tables (incremental
    * cross blocking; per-side cids are not comparable). Hash collisions can
    * only ADD a candidate pair — every pair is re-verified by the full
    * ladder, so the verified output is unchanged (FP-safe, never FN). */
  private[pipeline] def phashChunks(reps: DataFrame, group: Column): DataFrame = {
    val chunkBits = PhashBits / HammingChunks
    val mask = (1L << chunkBits) - 1L
    reps
      .select(col("image_id").as("id"), group.as("grp"), col("phash"),
        explode(sequence(lit(0L), lit(HammingChunks - 1L))).as("chunk_idx"))
      .withColumn("chunk_val",
        expr(s"shiftright(phash, cast(chunk_idx * $chunkBits AS int)) & CAST($mask AS bigint)"))
      .select(col("id"), xxhash64(col("grp"), col("chunk_idx"), col("chunk_val")).as("bucket"))
  }

  /** Verify ladder (SURVEY §2 B9), the one both pipelines call: two rows
    * are duplicates iff caption-near AND image-near, each criterion decided
    * at the coarsest grain it depends on, cheap → expensive:
    *  1. caption: exact shingle-Jaccard ≥ τ OR a shared L-gram, once per
    *     distinct caption pair (distinct cids never share a caption within
    *     one table; an equal caption across the import's two tables has
    *     equal hash arrays, so it passes);
    *  2. passing caption pairs expand to rep row pairs, once, and the
    *     same-caption row pairs join in. Each keeps to its path: a
    *     same-caption pair needs equal captions (a bucket hash collision
    *     could pair two groups), an expanded one unequal captions — two
    *     reps of one caption within Hamming ≤ max (or with equal bytes, so
    *     equal phashes) share a phash chunk by pigeonhole, so the
    *     same-caption path holds them and no pair passes twice;
    *  3. image: identical bytes OR phash Hamming ≤ max on per-rep
    *     metadata, then `bytes` of the surviving ids only, for PSNR ≥ min dB.
    *
    * @param capPairs  (a, b) caption ids, never in both orientations; `a`
    *                  resolves in `shA`/`membersA`, `b` in `shB`/`membersB`
    * @param shA       (id, shingles, grams) per caption id
    * @param membersA  (cid, image_id) exact-class reps per caption id
    * @param samePairs (a, b) distinct rep row pairs within caption groups
    * @param reps      rep rows with (image_id, caption, bytes_hash, phash)
    * @param bytesTbl  (image_id, bytes) */
  private[pipeline] def verifyLadder(capPairs: DataFrame, shA: DataFrame, shB: DataFrame,
                                     membersA: DataFrame, membersB: DataFrame,
                                     samePairs: DataFrame, reps: DataFrame,
                                     bytesTbl: DataFrame): DataFrame = {
    def hashes(sh: DataFrame, side: String) = sh.select(col("id").as(side),
      col("shingles").as(s"sh_$side"), col("grams").as(s"gr_$side"))
    val interSz = size(array_intersect(col("sh_a"), col("sh_b"))).cast("long")
    val captionNear = (col("sh_a").isNotNull && col("sh_b").isNotNull &&
        graft.functions.TextHash.jaccardGe(interSz,
          size(col("sh_a")).cast("long"), size(col("sh_b")).cast("long"))) ||
      coalesce(arrays_overlap(col("gr_a"), col("gr_b")), lit(false))
    val captionPass = capPairs.select("a", "b").distinct()
      .join(hashes(shA, "a"), "a").join(hashes(shB, "b"), "b")
      .where(captionNear)

    val rows = expand(captionPass, membersA, membersB).withColumn("same", lit(false))
      .unionByName(samePairs.select(col("a"), col("b"), lit(true).as("same")))
    def meta(side: String) = reps.select(col("image_id").as(side), col("caption").as(s"cap_$side"),
      col("bytes_hash").as(s"bh_$side"), col("phash").as(s"ph_$side"))
    val imagePass = rows.join(meta("a"), "a").join(meta("b"), "b")
      .where(col("same") === (col("cap_a") === col("cap_b")))
      .withColumn("bytes_eq", col("bh_a") === col("bh_b"))
      .where(col("bytes_eq") || expr(s"bit_count(ph_a ^ ph_b) <= $HammingMax"))

    // the heavy payload joins ONCE, and only for the ids of surviving pairs:
    // each pair explodes to its two (side, image_id) rows, takes its bytes
    // and regroups, so the pair plan is read once and needs no checkpoint
    // (a lazy checkpoint that two concurrent stages read is computed twice)
    imagePass
      .select(col("a"), col("b"), col("bytes_eq"),
        posexplode(array(col("a"), col("b"))).as(Seq("side", "image_id")))
      .join(bytesTbl, "image_id")
      .groupBy("a", "b", "bytes_eq")
      .agg(max(when(col("side") === 0, col("bytes"))).as("bytes_a"),
        max(when(col("side") === 1, col("bytes"))).as("bytes_b"))
      .where(col("bytes_eq") ||
        psnrUdf(col("bytes_a"), col("bytes_b")) >= PsnrMinDb)
      .select(col("a"), col("b"))
  }

  // ---- projections of the annotated table (one row per input row)
  /** Exact-dup representatives: one row per (caption, bytes_hash) class. */
  private[pipeline] def repsOf(ann: DataFrame): DataFrame = ann.where(col("image_id") === col("rep"))
  /** Caption representatives: one (cid, caption) row per distinct caption. */
  private[pipeline] def capRepsOf(ann: DataFrame): DataFrame =
    ann.where(col("image_id") === col("cid")).select(col("cid"), col("caption"))
  /** Member map (cid, image_id): the exact-class reps of each caption. */
  private[pipeline] def membersOf(ann: DataFrame): DataFrame =
    repsOf(ann).select(col("cid"), col("image_id"))
  /** Lossless exact-dup edges (rep, member) for every non-rep row. */
  private[pipeline] def starEdgesOf(ann: DataFrame): DataFrame =
    ann.where(col("image_id") =!= col("rep")).select(col("rep").as("a"), col("image_id").as("b"))

  /** Folded MinHash-LSH band rows (bucket, id) per caption rep. */
  private[pipeline] def foldedBands(capReps: DataFrame): DataFrame =
    MinHashLsh.fold(MinHashLsh.bands(MinHashLsh.signaturesFromText(capReps, "cid", "caption")))
  /** L-gram hash rows (id, bucket = gram hash) per caption rep. */
  private[pipeline] def gramsOf(capReps: DataFrame): DataFrame =
    TextAnalysis.gramTable(capReps, "cid", "caption").withColumnRenamed("gram_hash", "bucket")

  /** Expand caption-level pairs (cid_a, cid_b) → (least, greatest) pairs
    * of their exact-class reps through each side's member map; member
    * counts per caption are tiny once exact/caption-equal classes are
    * collapsed. */
  private[pipeline] def expand(capPairs: DataFrame, membersA: DataFrame,
                               membersB: DataFrame): DataFrame =
    capPairs
      .join(membersA.select(col("cid").as("a"), col("image_id").as("ia")), "a")
      .join(membersB.select(col("cid").as("b"), col("image_id").as("ib")), "b")
      .select(least(col("ia"), col("ib")).as("a"), greatest(col("ia"), col("ib")).as("b"))

  /** Composable corpus fingerprint: (row count, xor of image_id hashes).
    * Both components compose under disjoint union, so an absorb extends a
    * staged fingerprint from its delta alone, with no corpus rescan. */
  private[pipeline] def fingerprint(df: DataFrame): (Long, Long) = {
    val r = df.agg(count(lit(1)), bit_xor(xxhash64(col("image_id")))).head()
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  private[pipeline] def stageFingerprint(spark: SparkSession, ckpt: StageStore, name: String,
                                         fp: (Long, Long)): Unit =
    ckpt.stage(name)(spark.createDataFrame(Seq(fp)).toDF("cnt", "xh"))

  /** Blocking schemes of [[candidates]], the `scheme` codes of stage
    * `s3_candidate_pairs`. */
  val LshScheme = 0
  val LGramScheme = 1
  val PhashScheme = 2

  /** Candidate stage s3 over ONE annotated table → (caption-id pairs of the
    * LSH and L-gram schemes, rep row pairs of the phash scheme), the two
    * candidate inputs of [[verifyLadder]]. The full run applies it to its
    * whole input; an import applies it to its delta alone (the
    * delta×delta leg, staged under the import's namespace), so both
    * pipelines block with one definition.
    *
    * The three schemes are rows of ONE (scheme, bucket, id) table and one
    * salted self-join over key (scheme, bucket), as the reference's
    * Blocking job groups every configured scheme behind one shuffle: one
    * skew probe and one pair join per run, and the schemes' upstream
    * stages run concurrently in one query. The id is a (scheme, id)
    * struct, so two schemes pairing the same ids stay two rows; within a
    * scheme structs order and hash by id, so each scheme keeps its own
    * buckets, its own salting and exactly the pairs it would yield alone.
    *
    *  - LSH (MinHash bands) and L-gram (a shared L-token run) are
    *    caption-level; the ladder decides their caption criterion per
    *    caption pair and expands only the passing ones to rows.
    *  - phash: chunk buckets WITHIN caption groups (composite blocking
    *    key, cf. the reference's multi-scheme blocking). The dup semantics
    *    require caption-near AND image-near, and the binding caption
    *    constraint must drive candidate generation: a global phash join
    *    explodes whenever image space is less diverse than id space
    *    (measured: 20k procedural images → 452 phash values → 35M row
    *    pairs). Within-caption it covers exactly the class LSH/L-gram
    *    can't: equal captions too short to shingle + near-identical images
    *    (D3). Caption groups are keyed by cid, so the blocking key never
    *    shuffles the caption STRING. The standalone image-only operator
    *    remains SimHashNearDup. */
  private[pipeline] def candidates(annotated: DataFrame, ckpt: StageStore): (DataFrame, DataFrame) = {
    val pairs = ckpt.stage("s3_candidate_pairs") {
      SkewSalting.selfJoinPairs(blockingKeys(annotated, col("cid")),
          Seq("scheme", "bucket"), "sid", SaltCap, SaltFanout)
        .select(col("a.scheme").as("scheme"), col("a.id").as("a"), col("b.id").as("b"))
    }
    (pairs.where(col("scheme") =!= PhashScheme).select("a", "b"),
      pairs.where(col("scheme") === PhashScheme).select("a", "b"))
  }

  /** The blocking-key table of one annotated table, the rows every scheme
    * blocks on: (scheme, bucket, sid = (scheme, id)), with caption ids for
    * LSH and L-gram and rep row ids for phash, whose chunk buckets lie
    * within caption groups keyed by `group` (see [[phashChunks]]). */
  private[pipeline] def blockingKeys(annotated: DataFrame, group: Column): DataFrame = {
    val capReps = capRepsOf(annotated)
    def scheme(code: Int, buckets: DataFrame) = buckets.select(lit(code).as("scheme"),
      col("bucket"), struct(lit(code).as("scheme"), col("id")).as("sid"))
    scheme(LshScheme, foldedBands(capReps))
      .unionByName(scheme(LGramScheme, gramsOf(capReps)))
      .unionByName(scheme(PhashScheme, phashChunks(repsOf(annotated), group)))
  }
}
