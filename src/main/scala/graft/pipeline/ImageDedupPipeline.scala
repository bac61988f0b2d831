package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
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
  *   scan ─┬ caption: shingle→MinHash→LSH bands          ┐
  *         ├ caption: L-gram substring pass                ├ salted pair joins
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
  * all bucket self-joins go through SkewSalting.
  */
object ImageDedupPipeline {

  val psnrUdf = udf((a: Array[Byte], b: Array[Byte]) =>
    if (a == null || b == null) 0.0 else ImageCodec.psnr(a, b))

  /** Checkpointed run (resumable): works with any [[StageStore]] — a
    * parquet-dir [[StageCheckpoint]] or a catalog/Iceberg-path
    * [[CatalogStageCheckpoint]]. */
  def run(spark: SparkSession, input: DataFrame, checkpoint: StageStore): DataFrame =
    runImpl(spark, input, checkpoint)

  /** Bench/throughput run: no stage snapshots — multiply-consumed
    * intermediates are lazily localCheckpoint'ed, everything else stays a
    * lazy plan (recompute-over-store; on a real cluster the input comes
    * from a table, not a generator). */
  def runDirect(spark: SparkSession, input: DataFrame): DataFrame = {
    val reuse = Set("s1_annotated", "s2_shingles", "s6_verified_edges")
    runImpl(spark, input, new StageStore {
      def stage(name: String)(compute: => DataFrame): DataFrame =
        // cc_edges_* periodic commits degrade to plain lineage truncation
        // here (a bench run has no durability requirement)
        if (reuse(name) || name.startsWith("cc_edges_"))
          compute.localCheckpoint(false)
        else compute
    })
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
  private[pipeline] def phashChunks(reps: DataFrame, group: org.apache.spark.sql.Column): DataFrame = {
    val chunkBits = PhashBits / HammingChunks
    val mask = (1L << chunkBits) - 1L
    reps
      .select(col("image_id").as("id"), group.as("grp"), col("phash"),
        explode(sequence(lit(0L), lit(HammingChunks - 1L))).as("chunk_idx"))
      .withColumn("chunk_val",
        expr(s"shiftright(phash, cast(chunk_idx * $chunkBits AS int)) & CAST($mask AS bigint)"))
      .withColumn("bucket", xxhash64(col("grp"), col("chunk_idx"), col("chunk_val")))
      .select(col("id"), col("bucket"))
  }

  /** Verify ladder (SURVEY §2 B9) over row-level candidate pairs:
    * caption criterion (equality OR shingle-Jaccard ≥ τ OR shared L-gram,
    * cheap → expensive so codegen short-circuits) AND image criterion
    * (identical bytes OR phash Hamming ≤ max AND decoded PSNR ≥ min dB).
    * Candidate provenance is never trusted — every check recomputes from
    * the precomputed per-caption hash arrays. `bytes` joins in ONLY for
    * pairs past both the caption criterion and the integer Hamming
    * prefilter, semi-joined down to candidate ids first.
    *
    * @param cand     (a, b) row-level candidate pairs
    * @param capt     (image_id, caption, bytes_hash, phash) for every id
    *                 that can appear in `cand`
    * @param shByRow  (image_id, shingles, grams) routed per row (consumed
    *                 twice — pass it localCheckpoint'ed)
    * @param bytesTbl (image_id, bytes) */
  private[pipeline] def verifyLadder(cand: DataFrame, capt: DataFrame,
                                     shByRow: DataFrame, bytesTbl: DataFrame): DataFrame = {
    val withMeta = cand
      .join(capt.select(col("image_id").as("a"), col("caption").as("cap_a"),
        col("bytes_hash").as("bh_a"), col("phash").as("ph_a")), "a")
      .join(capt.select(col("image_id").as("b"), col("caption").as("cap_b"),
        col("bytes_hash").as("bh_b"), col("phash").as("ph_b")), "b")
      .join(shByRow.select(col("image_id").as("a"), col("shingles").as("sh_a"),
        col("grams").as("gr_a")), Seq("a"), "left")
      .join(shByRow.select(col("image_id").as("b"), col("shingles").as("sh_b"),
        col("grams").as("gr_b")), Seq("b"), "left")

    val interSz = size(array_intersect(col("sh_a"), col("sh_b"))).cast("long")
    val captionOk = (col("cap_a") === col("cap_b")) ||
      (col("sh_a").isNotNull && col("sh_b").isNotNull &&
        graft.functions.TextHash.jaccardGe(interSz,
          size(col("sh_a")).cast("long"), size(col("sh_b")).cast("long"))) ||
      coalesce(arrays_overlap(col("gr_a"), col("gr_b")), lit(false))

    val captionPass = withMeta.where(captionOk)
      .withColumn("bytes_eq", col("bh_a") === col("bh_b"))
      .where(col("bytes_eq") ||
        expr(s"bit_count(ph_a ^ ph_b) <= $HammingMax"))
      .select(col("a"), col("b"), col("bytes_eq"))
      .localCheckpoint(false)

    // prune the heavy payload BEFORE it ever enters a shuffle: only rows
    // that appear in a surviving candidate pair carry their bytes into the
    // PSNR join (otherwise the full binary column is shuffled twice to
    // serve a few thousand pairs — pure memory-bandwidth burn)
    val candIds = captionPass.select(col("a").as("image_id"))
      .unionByName(captionPass.select(col("b").as("image_id")))
      .distinct()
    val neededBytes = bytesTbl.join(candIds, Seq("image_id"), "left_semi")
      .localCheckpoint(false)

    captionPass
      .join(neededBytes.select(col("image_id").as("a"), col("bytes").as("bytes_a")), "a")
      .join(neededBytes.select(col("image_id").as("b"), col("bytes").as("bytes_b")), "b")
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

  /** MinHash-LSH band rows (id, band_idx, band_hash) per caption rep. */
  private[pipeline] def bandsOf(capReps: DataFrame): DataFrame =
    MinHashLsh.bands(MinHashLsh.signaturesFromText(capReps, "cid", "caption"))

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

  /** Shingle/gram hash arrays routed row → cid → arrays (computed once per
    * caption, never per pair): (image_id, shingles, grams). */
  private[pipeline] def routeShingles(members: DataFrame, sh: DataFrame): DataFrame =
    members.join(sh.select(col("id").as("cid"), col("shingles"), col("grams")), "cid")
      .select(col("image_id"), col("shingles"), col("grams"))

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

  /** Candidate stages s3–s5 over ONE annotated table → row-level pairs
    * (a < b, src). The full run applies them to its whole input; an import
    * applies them to its delta alone (the delta×delta leg, staged under the
    * import's namespace), so both pipelines block with one definition.
    *
    * s3/s4 are caption-level (MinHash-LSH bands, shared L-token run) and
    * expand to rows through the member map; near-caption pairs between two
    * viral-size captions would inflate that expansion, but the verify
    * ladder's Hamming filter runs right after it.
    *
    * s5: phash chunk buckets WITHIN caption groups (composite blocking
    * key, cf. the reference's multi-scheme blocking). The dup semantics
    * require caption-near AND image-near, and the binding caption
    * constraint must drive candidate generation: a global phash join
    * explodes whenever image space is less diverse than id space
    * (measured: 20k procedural images → 452 phash values → 35M row pairs).
    * Within-caption it covers exactly the class LSH/substring can't: equal
    * captions too short to shingle + near-identical images (D3). Caption
    * groups are keyed by cid, so the blocking key never shuffles the
    * caption STRING. The standalone image-only operator remains
    * SimHashNearDup. */
  private[pipeline] def candidates(annotated: DataFrame, ckpt: StageStore): DataFrame = {
    val capReps = capRepsOf(annotated)
    val lshPairs = ckpt.stage("s3_lsh_pairs")(MinHashLsh.candidatePairs(bandsOf(capReps)))
    val substrPairs = ckpt.stage("s4_substr_pairs") {
      TextAnalysis.substringPairs(capReps, "cid", "caption")
    }
    val members = membersOf(annotated)
    val textPairs = expand(lshPairs, members, members).withColumn("src", lit("minhash"))
      .unionByName(expand(substrPairs, members, members).withColumn("src", lit("substring")))
    val imgPairs = ckpt.stage("s5_img_pairs") {
      SkewSalting.selfJoinPairs(phashChunks(repsOf(annotated), col("cid")),
          Seq("bucket"), "id", SaltCap, SaltFanout)
        .withColumn("src", lit("phash"))
    }
    textPairs.unionByName(imgPairs)
  }

  private def runImpl(spark: SparkSession, input: DataFrame, ckpt: StageStore): DataFrame = {

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
    val pairs = candidates(annotated, ckpt)

    // ---- stage: verify — caption criterion AND image criterion
    val verified = ckpt.stage("s6_verified_edges") {
      val cand = pairs.select("a", "b").dropDuplicates("a", "b")
      val shByRow = routeShingles(membersOf(annotated), shingleTbl)
        .localCheckpoint(false) // joined twice (a and b side)
      verifyLadder(cand,
        repsOf(annotated).select(col("image_id"), col("caption"), col("bytes_hash"), col("phash")),
        shByRow,
        input.select(col("image_id"), col("bytes")))
    }

    // ---- stage: connected components over verified ∪ exact-star edges;
    // the job's store also takes CC's periodic reliable checkpoints, so an
    // executor-loss restart resumes mid-iteration instead of re-running the
    // whole O(log² n) loop (localCheckpoint alone is not fault-tolerant)
    ckpt.stage("s7_clusters") {
      val edges = verified.select("a", "b").unionByName(starEdges.select("a", "b"))
      ConnectedComponents.run(spark, edges,
        Some(annotated.select(col("image_id").as("id"))),
        store = Some(ckpt))
        .select(col("id").as("image_id"), col("cluster_id"))
    }
  }
}
