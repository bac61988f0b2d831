package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.config.GoldenConfig._
import graft.functions.TextHash._

/** Caption/text near-duplicate candidate generation: token shingles →
  * batched MinHash signatures → LSH band buckets → bucket self-join.
  *
  * Replaces the reference's blocking + candidate stages
  * (R:.../deduplication/Blocking.scala `blocking()` — key-by + cogroup —
  * and R:.../deduplication/DuplicateCandidates.scala per-block n² pairing;
  * SURVEY.md §2 A11/A12/A16 → B3/B5/B7/B8) with a flat equi-join that never
  * materializes blocks as lists, so Catalyst/AQE pick the join strategy and
  * nothing holds an O(block²) row in memory.
  *
  * Scale design (10^12 rows):
  *  - exact-duplicate pre-collapse: identical normalized text is collapsed
  *    to one representative BEFORE signatures. Lossless for clustering
  *    (identical text ⇒ identical shingles ⇒ identical candidate edges) and
  *    it removes the worst LSH skew — a viral caption repeated 10^7 times
  *    becomes ONE signature row plus 10^7 linear star edges instead of a
  *    10^14-pair bucket. This replaces the reference's recall-losing
  *    maxBlockSize block-drop (A10) with a lossless reduction.
  *  - residual skew: oversized band buckets (distinct texts that still
  *    collide) are salted — see [[SkewSalting.selfJoinPairs]].
  *  - `bytes`/payload columns are never carried: inputs are projected to
  *    (id, text) at the door (column pruning reaches the scan).
  */
object MinHashLsh {

  /** (id, text) → (id, shingles) with <k-token docs keeping empty arrays.
    * Compiled kernel (ShingleStringsExpr) — same distinct shingle STRINGS
    * in the same first-occurrence order as the TextHash.shingles
    * expression formulation (kernel-parity unit-tested); the interpreted
    * slice/concat/array_distinct tree was ~1.3 s per bench query. */
  def shingleTable(df: DataFrame, idCol: String, textCol: String,
                   k: Int = ShingleK): DataFrame =
    df.select(col(idCol).as("id"),
      graft.functions.GraftExpressions.shingleStrings(tokens(col(textCol)), k)
        .as("shingles"))

  /** (id, shingles) → (id, sig: array<long>) for docs with ≥1 shingle.
    * Uses the fused codegen kernel (MinHashSigExpr); bit-identical to the
    * built-in formulation minhashSignature(hashArray(_)) — unit-tested. */
  def signatures(sh: DataFrame, n: Int = NumHashes): DataFrame =
    sh.where(size(col("shingles")) > 0)
      .select(col("id"), graft.functions.GraftExpressions.minhashSig(col("shingles"), n).as("sig"))

  /** (id, text) → (id, sig) in ONE kernel pass (shingling fused into the
    * MinHash loop — no shingle strings materialized; min over the shingle
    * multiset equals min over its set, so values are bit-identical to
    * signatures(shingleTable(df))). Rows with < k tokens are dropped. */
  def signaturesFromText(df: DataFrame, idCol: String, textCol: String,
                         k: Int = ShingleK, n: Int = NumHashes): DataFrame =
    df.select(col(idCol).as("id"),
        graft.functions.GraftExpressions.minhashShingles(tokens(col(textCol)), k, n).as("sig"))
      .where(col("sig").isNotNull)

  /** Banding parameters (b, r) with b·r = n whose LSH collision threshold
    * (1/b)^(1/r) is closest to `tau` — the principled replacement for the
    * reference's hand-chosen blocking schemes (tune b,r to the similarity
    * you care about instead of guessing key functions). */
  def bandingFor(tau: Double, n: Int = NumHashes): (Int, Int) = {
    require(tau > 0.0 && tau < 1.0, "tau must be in (0, 1)")
    val candidates = (1 to n).filter(n % _ == 0).map(b => (b, n / b))
    candidates.minBy { case (b, r) =>
      math.abs(math.pow(1.0 / b, 1.0 / r) - tau)
    }
  }

  /** (id, sig) → (id, band_idx, band_hash) — one row per band. Compiled
    * kernel (BandHashArrExpr — same per-band polynomial folds as
    * TextHash.bandHashes, parity-tested); band_idx is the explode
    * position, cast to long to keep the original schema. */
  def bands(sig: DataFrame, b: Int = Bands, r: Int = RowsPerBand): DataFrame =
    sig.select(col("id"),
        posexplode(graft.functions.GraftExpressions.bandHashArr(col("sig"), b, r))
          .as(Seq("band_idx", "band_hash")))
      .select(col("id"), col("band_idx").cast("long").as("band_idx"),
        col("band_hash"))

  /** (id, band_idx, band_hash) → (bucket, id): the (band_idx, band_hash)
    * key folded LOSSLESSLY into one long (band_hash < P, so
    * band_idx·P + band_hash is invertible — no collision can merge two
    * buckets). The band table is the largest shuffle of the dedup job, and
    * one 8-byte key both halves the key bytes per row and gives
    * single-column hash partitioning. */
  def fold(bandDf: DataFrame): DataFrame =
    bandDf.select((col("band_idx") * lit(P) + col("band_hash")).as("bucket"), col("id"))

  /** Band-bucket self-join on the [[fold]]ed key → distinct candidate pairs
    * (a < b), salted on skewed buckets. Output pairs are identical to the
    * two-column join (q06 oracle). */
  def candidatePairs(bandDf: DataFrame,
                     saltCap: Int = SaltCap, saltFanout: Int = SaltFanout): DataFrame =
    SkewSalting.selfJoinPairs(fold(bandDf), Seq("bucket"), "id", saltCap, saltFanout)

  /** Verify stage (SURVEY §2 B9): exact Jaccard on shingle sets, integer
    * rational threshold — runs only on candidate pairs. */
  def verifyPairs(pairs: DataFrame, sh: DataFrame,
                  num: Long = TauNum, den: Long = TauDen): DataFrame = {
    val sa = sh.select(col("id").as("a"), col("shingles").as("sh_a"))
    val sb = sh.select(col("id").as("b"), col("shingles").as("sh_b"))
    pairs.join(sa, "a").join(sb, "b")
      .select(col("a"), col("b"),
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("long").as("inter"),
        size(col("sh_a")).cast("long").as("na"),
        size(col("sh_b")).cast("long").as("nb"))
      .where(jaccardGe(col("inter"), col("na"), col("nb"), num, den))
  }

  /** Band-bucket join of a MASTER band table against a STAGING band table →
    * distinct cross pairs (a = master id, b = staging id) — the reference's
    * actual blocking shape (blocks are master × staging,
    * R:.../deduplication/Blocking.scala; SURVEY §2 A11) and the incremental-
    * dedup workhorse: at 10^12 rows a daily delta is deduped against the
    * corpus with shuffle work proportional to the DELTA's buckets (corpus
    * buckets with no staging row are dropped map-side inside
    * [[SkewSalting.crossJoinPairs]]), never re-pairing the corpus against
    * itself. */
  def candidatePairsAgainst(bandMaster: DataFrame, bandStaging: DataFrame,
                            saltCap: Int = SaltCap,
                            saltFanout: Int = SaltFanout): DataFrame =
    SkewSalting.crossJoinPairs(fold(bandMaster), fold(bandStaging),
      Seq("bucket"), "id", saltCap, saltFanout)

  /** Exact-duplicate star edges + representative table.
    * @return (reps: (id, text) one per distinct text with id = min member,
    *          starEdges: (a=rep, b=member) for non-representative members) */
  def exactCollapse(df: DataFrame, idCol: String, textCol: String): (DataFrame, DataFrame) = {
    val keyed = df.select(col(idCol).as("id"), lower(col(textCol)).as("text"))
    val reps = keyed.groupBy("text").agg(min(col("id")).as("id"))
      .select(col("id"), col("text"))
    val star = keyed.join(reps.withColumnRenamed("id", "rep"), "text")
      .where(col("id") =!= col("rep"))
      .select(col("rep").as("a"), col("id").as("b"))
    (reps, star)
  }
}
