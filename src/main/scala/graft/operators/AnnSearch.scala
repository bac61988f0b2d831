package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.config.GoldenConfig._

/** Approximate-nearest-neighbor search over an embedding column
  * (array<float>). Two paths:
  *
  *  - brute-force cosine top-k: exact baseline. Query set × corpus with a
  *    codegen'd dot product (`zip_with` + left-fold `aggregate` — the fold
  *    order is pinned so the DuckDB oracle reproduces the doubles
  *    bit-for-bit). The query side broadcasts; corpus is never shuffled.
  *  - random-hyperplane LSH (SimHash for vectors, Charikar'02): bucket =
  *    sign bits of `AnnHyperplanes` pseudo-random ±1 hyperplanes derived
  *    from the pinned LCG — the scale path: candidates come from one
  *    bucket equi-join, exact cosine re-ranks only candidates.
  *
  * Embedding-cosine near-dup dedup reuses `lshBuckets` + `cosine` with a
  * threshold instead of top-k.
  */
object AnnSearch {

  /** Left-fold sum of element products as double — order-pinned. Compiled
    * kernel (DotFExpr); bit-identical to [[dotBuiltin]] / the oracle's
    * list_reduce (unit-tested). array<float> columns only — the engine's
    * embedding contract. */
  def dot(a: Column, b: Column): Column =
    graft.functions.GraftExpressions.dotF(a, b)

  /** Built-in-expression formulation of [[dot]] — the oracle mirror; kept
    * for the kernel-parity spec. Interpreted (HOFs don't codegen). */
  private[operators] def dotBuiltin(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / norm(a) / norm(b)

  /** Exact top-k neighbors for each query row (`queries` ⊂ corpus shape:
    * (id, vec)). Output: (query_id, rank, neighbor_id) — integer-only so
    * result hashing is float-free; ties broken by neighbor id. */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int = AnnTopK): DataFrame = {
    val q = broadcast(queries.select(col("id").as("query_id"), col("vec").as("qv")))
    val c = corpus.select(col("id").as("neighbor_id"), col("vec").as("cv"))
    val scored = q.join(c, col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("qv"), col("cv")).as("cos"))
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"))
  }

  /** Deterministic ±1 hyperplane weight for (plane h, dim i):
    * sign = 2*((LcgMul*(h*1024+i) + LcgAddA) mod P mod 2) - 1. */
  private def planeSign(h: Column, i: Column): Column =
    ((lit(LcgMul) * (h * 1024L + i) + lit(LcgAddA)) % lit(P)) % 2L * 2L - 1L

  /** Signed projection of vec onto pseudo-random hyperplane h. */
  private def projection(vec: Column, h: Column): Column =
    aggregate(
      zip_with(vec,
        sequence(lit(0L), size(vec).cast("long") - 1L),
        (x, i) => x.cast("double") * planeSign(h, i).cast("double")),
      lit(0.0), (a, v) => a + v)

  /** (id, bucket): random-hyperplane LSH bucket id in [0, 2^planes) —
    * bucket = fold over planes (high→low) of acc*2 + signBit. Compiled
    * kernel; bit-identical to [[lshBucketsBuiltin]] / the oracle. */
  def lshBuckets(corpus: DataFrame, planes: Int = AnnHyperplanes): DataFrame =
    corpus.select(col("id"),
      graft.functions.GraftExpressions.hyperplaneBucket(col("vec"), planes).as("bucket"))

  /** Built-in-expression formulation of [[lshBuckets]] — the oracle
    * mirror; kept for the kernel-parity spec. */
  private[operators] def lshBucketsBuiltin(corpus: DataFrame,
                                           planes: Int = AnnHyperplanes): DataFrame =
    corpus.select(col("id"),
      aggregate(sequence(lit(planes - 1L), lit(0L)), lit(0L), (acc, h) =>
        acc * 2L + when(projection(col("vec"), h) > 0.0, lit(1L)).otherwise(lit(0L)))
        .as("bucket"))

  /** Embedding-cosine near-duplicate pairs: LSH bucket self-join generates
    * candidates (never all-pairs), exact cosine ≥ tau verifies. The scale
    * shape of embedding dedup: one equi-join on the bucket id; recall is
    * governed by `planes` (all sign bits must agree) — use
    * [[nearDupPairsBanded]] when a single table's p^planes recall is not
    * enough. */
  def nearDupPairs(corpus: DataFrame, tau: Double,
                   planes: Int = AnnHyperplanes): DataFrame = {
    val b = lshBuckets(corpus, planes)
    val cand = b.select(col("bucket"), col("id").as("a"))
      .join(b.select(col("bucket"), col("id").as("b")), "bucket")
      .where(col("a") < col("b"))
      .select("a", "b").distinct()
    verifyCosine(cand, corpus, tau)
  }

  /** Exact-cosine ≥ tau verification of candidate (a, b) pairs. Norms are
    * computed once per VECTOR, not per pair (at 10^12 scale a vector sits
    * in many pairs); dividing dot by the two norms in the same order keeps
    * the doubles bit-identical to the inline cosine / the oracle. */
  private def verifyCosine(cand: DataFrame, corpus: DataFrame, tau: Double): DataFrame = {
    val v = corpus.select(col("id"), col("vec"), norm(col("vec")).as("nrm"))
    cand
      .join(v.select(col("id").as("a"), col("vec").as("va"), col("nrm").as("na")), "a")
      .join(v.select(col("id").as("b"), col("vec").as("vb"), col("nrm").as("nb")), "b")
      .where(dot(col("va"), col("vb")) / col("na") / col("nb") >= tau)
      .select(col("a"), col("b"))
  }

  /** (id, table_idx, bucket): banded multi-table hyperplane LSH — the
    * MinHash-banding generalization to cosine space. Table t's bucket folds
    * the sign bits of planes [t·r, (t+1)·r) (distinct pseudo-random
    * hyperplanes per table from the same pinned LCG stream), so a pair
    * collides when ALL r bits agree in AT LEAST ONE of the b tables:
    * P(candidate | angle θ) = 1 − (1 − p^r)^b, p = 1 − θ/π — the recall
    * knob the single-table [[lshBuckets]] lacks (there every one of its 16
    * bits must agree). One kernel pass per table, exploded to rows. */
  def lshBucketsBanded(corpus: DataFrame, tables: Int = AnnBandTables,
                       planesPerTable: Int = AnnBandPlanes): DataFrame = {
    val tb = array((0 until tables).map { t =>
      struct(lit(t.toLong).as("table_idx"),
        graft.functions.GraftExpressions
          .hyperplaneBucket(col("vec"), planesPerTable, t * planesPerTable)
          .as("bucket"))
    }: _*)
    corpus.select(col("id"), explode(tb).as("tb"))
      .select(col("id"), col("tb.table_idx").as("table_idx"),
        col("tb.bucket").as("bucket"))
  }

  /** Banded embedding near-dup pairs: candidates from the multi-table
    * bucket self-join (skew-salted — a dense embedding cluster is a viral
    * bucket), exact cosine ≥ tau verifies. The (table_idx, bucket) key
    * folds losslessly into one long (bucket < 2^r). */
  def nearDupPairsBanded(corpus: DataFrame, tau: Double,
                         tables: Int = AnnBandTables,
                         planesPerTable: Int = AnnBandPlanes,
                         saltCap: Int = SaltCap, saltFanout: Int = SaltFanout): DataFrame = {
    val b = lshBucketsBanded(corpus, tables, planesPerTable)
      .select((col("table_idx") * lit(1L << planesPerTable) + col("bucket")).as("bucket"),
        col("id"))
    val cand = SkewSalting.selfJoinPairs(b, Seq("bucket"), "id", saltCap, saltFanout)
    verifyCosine(cand, corpus, tau)
  }

  /** ANN via LSH buckets: candidates from bucket join, exact cosine top-k
    * re-rank within candidates. */
  def lshTopK(corpus: DataFrame, queries: DataFrame, k: Int = AnnTopK,
              planes: Int = AnnHyperplanes): DataFrame = {
    val cb = lshBuckets(corpus, planes).withColumnRenamed("id", "neighbor_id")
    val qb = lshBuckets(queries, planes).withColumnRenamed("id", "query_id")
    val cand = qb.join(cb, "bucket")
      .where(col("query_id") =!= col("neighbor_id"))
      .select("query_id", "neighbor_id")
    rankTopK(cand, corpus, queries, k)
  }

  /** Incremental (delta-vs-corpus) banded embedding near-dup — the ANN
    * sibling of the text/image pipelines' master×staging import: verified
    * cross pairs (a = corpus id, b = delta id) between a new embedding
    * batch and an existing corpus, via [[SkewSalting.crossJoinPairs]] on
    * the folded banded bucket key — corpus buckets with no delta row are
    * dropped MAP-SIDE (delta-bucket bloom), so shuffle volume tracks the
    * delta's bucket footprint, never the corpus's. Exact cosine ≥ tau
    * verifies, same as [[nearDupPairsBanded]]. */
  def nearDupPairsBandedAgainst(corpus: DataFrame, delta: DataFrame, tau: Double,
                                tables: Int = AnnBandTables,
                                planesPerTable: Int = AnnBandPlanes,
                                saltCap: Int = SaltCap,
                                saltFanout: Int = SaltFanout): DataFrame = {
    def folded(df: DataFrame) = lshBucketsBanded(df, tables, planesPerTable)
      .select((col("table_idx") * lit(1L << planesPerTable) + col("bucket")).as("bucket"),
        col("id"))
    val cand = SkewSalting.crossJoinPairs(folded(corpus), folded(delta),
      Seq("bucket"), "id", saltCap, saltFanout)
    verifyCosine(cand, corpus.unionByName(delta), tau)
  }

  /** Banded ANN: candidates from the multi-table bucket join (union over
    * tables, dedup'd — a pair colliding in several tables scores once),
    * exact cosine top-k re-rank. Recall vs [[bruteForceTopK]] is governed
    * by (tables, planesPerTable) — see [[lshBucketsBanded]]. */
  def lshTopKBanded(corpus: DataFrame, queries: DataFrame, k: Int = AnnTopK,
                    tables: Int = AnnBandTables,
                    planesPerTable: Int = AnnBandPlanes): DataFrame = {
    val cb = lshBucketsBanded(corpus, tables, planesPerTable)
      .withColumnRenamed("id", "neighbor_id")
    val qb = lshBucketsBanded(queries, tables, planesPerTable)
      .withColumnRenamed("id", "query_id")
    val cand = qb.join(cb, Seq("table_idx", "bucket"))
      .where(col("query_id") =!= col("neighbor_id"))
      .select("query_id", "neighbor_id").distinct()
    rankTopK(cand, corpus, queries, k)
  }

  // ---- IVF (inverted-file) ANN: k-means coarse quantizer + probe lists —
  // the third scale path next to single-table and banded hyperplane LSH.
  // Centroids are tiny (nlist rows) and BROADCAST; the corpus is scanned
  // once for assignment and once per search — no corpus self-join at all.

  /** Member coordinate quantized to integer milli-units — the fixed-point
    * building block of the deterministic coarse quantizer. */
  private def quantized(v: Column): Column =
    round(v.cast("double") * IvfQuantScale).cast("long")

  /** Embedding dimensionality probe: one `head()` of one row — a
    * metadata-scale driver scalar (the same class of decision as
    * SkewSalting's hot-key probe), paid once per operator call so the
    * centroid/range aggregations below can be FIXED-WIDTH column lists
    * (one shuffle, no posexplode fan-out) for any dimension. */
  private def dimOf(corpus: DataFrame): Int =
    corpus.select(size(col("vec")).as("d")).head(1)
      .headOption.map(_.getInt(0)).getOrElse(0)

  /** The centroid table gathered into ONE broadcastable row
    * (_cents: array<struct<cid, cvec>> in cid order) — the shape that lets
    * assignment run as a per-row fold instead of a crossJoin + groupBy
    * re-shuffle of the corpus (guide §2.4: remove shuffles outright). */
  private def centsRow(centroids: DataFrame): DataFrame =
    centroids.groupBy()
      .agg(array_sort(collect_list(struct(col("cid"), col("cvec")))).as("_cents"))

  /** Per-row argmax over the gathered centroid array: fold with
    * greatest(struct(score, -cid)) — the same (score, ncid) lexicographic
    * ordering as the previous max(struct) aggregation, so winner, ties and
    * NaN handling are bit-identical; score arithmetic is the unchanged
    * dot/norm/norm division chain. */
  private def bestCentroid(vec: Column, cents: Column): Column =
    aggregate(cents,
      struct(lit(Double.NegativeInfinity).as("score"), lit(Long.MinValue).as("ncid")),
      (acc, c) => greatest(acc, struct(
        (dot(vec, c("cvec")) / norm(vec) / norm(c("cvec"))).as("score"),
        negate(c("cid")).as("ncid"))))

  /** Deterministic-seed Lloyd's k-means over the (id, vec) corpus:
    * initial centroids are the first `nlist` vectors in id order, then
    * `iters` rounds of assign (max cosine, broadcast centroids) + centroid
    * update. Returns (cid, cvec: array<float>).
    *
    * Fixed-point update rule (GoldenConfig.IvfQuantScale): the new centroid
    * is the per-dimension LONG SUM of its members' milli-unit-quantized
    * coordinates, cast to float. Cosine is scale-invariant, so the
    * un-normalized integer sum points exactly where the float mean would —
    * but integer sums are order-independent, making every centroid (and so
    * every assignment, probe and final top-k) bit-deterministic and
    * hash-exact against the DuckDB oracle (q40) regardless of partitioning.
    * The milli-unit rounding perturbs the coarse grid only (~1e-3 relative
    * per coordinate); recall is pinned by AnnAndTextSpec either way. */
  def ivfCentroids(corpus: DataFrame, nlist: Int, iters: Int = 3): DataFrame =
    ivfCentroidsRow(corpus, nlist, iters, dimOf(corpus))
      .select(inline(col("_cents")))

  /** Gathered-form trainer: the centroid state lives as ONE row
    * (_cents: array<struct<cid, cvec>>, cid-sorted) ACROSS iterations.
    * Per iteration: assignment is a map-side fold over the broadcast
    * centroid row and the update ONE fixed-width (dims sums) groupBy(cid)
    * whose result re-gathers in the same job — the corpus is shuffled once
    * per iteration (map-side-combined, nlist groups), vs the previous
    * assign-shuffle + join-by-id + posexplode + two groupBys (4
    * corpus-scaled exchanges), and the next iteration's broadcast build is
    * the only driver job. Values are bit-identical: per-dimension LONG
    * sums are order-independent and the argmax ordering is unchanged
    * (see [[bestCentroid]]); memberless centroids drop from the state
    * exactly as they dropped from the row table before. */
  private def ivfCentroidsRow(corpus: DataFrame, nlist: Int, iters: Int,
                              dims: Int): DataFrame = {
    var cents = centsRow(corpus.orderBy("id").limit(nlist)
        .select(transform(col("vec"), v => quantized(v).cast("float")).as("cvec"),
          (row_number().over(Window.orderBy("id")) - 1).cast("long").as("cid")))
      .localCheckpoint(false)
    if (dims == 0) return cents // empty corpus: empty centroid array, as before
    (1 to iters).foreach { _ =>
      cents = corpus.crossJoin(broadcast(cents))
        .where(size(col("_cents")) > 0)
        .select(negate(bestCentroid(col("vec"), col("_cents"))("ncid"))
          .cast("long").as("cid"),
          transform(col("vec"), quantized(_)).as("qvec"))
        .groupBy("cid")
        .agg(array((0 until dims).map(i =>
          sum(element_at(col("qvec"), i + 1)).cast("float")): _*).as("cvec"))
        .groupBy()
        .agg(array_sort(collect_list(struct(col("cid"), col("cvec")))).as("_cents"))
        .localCheckpoint(false)
    }
    cents
  }

  /** (id, cid) against a gathered centroid row — the shared no-shuffle
    * assignment kernel. */
  private def assignRow(df: DataFrame, centsRowDf: DataFrame): DataFrame =
    df.crossJoin(broadcast(centsRowDf))
      .where(size(col("_cents")) > 0)
      .select(col("id"),
        negate(bestCentroid(col("vec"), col("_cents"))("ncid")).cast("long").as("cid"))

  /** (id, cid): each vector's nearest centroid by cosine (ties → lowest
    * cid). The centroid table gathers into one broadcast row and the
    * argmax is a per-row fold — no shuffle at all (the previous
    * formulation re-shuffled the crossJoin output by id for its
    * max-struct aggregation). */
  def assignToCentroids(df: DataFrame, centroids: DataFrame): DataFrame =
    assignRow(df, centsRow(centroids))

  /** IVF ANN: corpus vectors are bucketed by nearest centroid (the
    * inverted lists); each query probes its `nprobe` nearest lists and
    * exact cosine re-ranks the candidates. nprobe = nlist degenerates to
    * exact brute force (every list probed — unit-tested equal to
    * [[bruteForceTopK]]); recall-vs-cost is the nprobe knob, orthogonal to
    * the LSH paths' (tables, planes). */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int = AnnTopK,
              nlist: Int = 16, nprobe: Int = 4, iters: Int = 3): DataFrame =
    ivfTopKWithRow(ivfCentroidsRow(corpus, nlist, iters, dimOf(corpus)),
      corpus, queries, k, nprobe)

  /** [[ivfTopK]] against PRECOMPUTED centroids — the production index
    * shape: the coarse quantizer is trained once (a tiny (cid, cvec)
    * table, stageable through any [[graft.pipeline.StageStore]] and
    * broadcast at query time), and every subsequent query batch — or a
    * freshly ingested delta — probes it without re-running Lloyd's.
    * Deterministic centroids (fixed-point sums) make the staged quantizer
    * bit-stable across restages. */
  def ivfTopKWith(cents: DataFrame, corpus: DataFrame, queries: DataFrame,
                  k: Int = AnnTopK, nprobe: Int = 4): DataFrame =
    ivfTopKWithRow(centsRow(cents), corpus, queries, k, nprobe)

  private def ivfTopKWithRow(cr: DataFrame, corpus: DataFrame,
                             queries: DataFrame, k: Int, nprobe: Int): DataFrame = {
    val lists = assignRow(corpus, cr).withColumnRenamed("id", "neighbor_id")
    // per-(query, cid) scores exploded from the same broadcast centroid
    // row the list assignment uses (the exchange is reused); score chain
    // and probe ranking unchanged
    val probes = queries.crossJoin(broadcast(cr))
      .where(size(col("_cents")) > 0)
      .select(col("id").as("query_id"),
        explode(transform(col("_cents"), c => struct(c("cid").as("cid"),
          (dot(col("vec"), c("cvec")) / norm(col("vec")) / norm(c("cvec")))
            .as("score")))).as("e"))
      .select(col("query_id"), col("e")("cid").as("cid"), col("e")("score").as("score"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("query_id").orderBy(col("score").desc, col("cid"))))
      .where(col("rk") <= nprobe)
      .select(col("query_id"), col("cid"))
    val cand = probes.join(lists, "cid")
      .where(col("query_id") =!= col("neighbor_id"))
      .select("query_id", "neighbor_id")
    rankTopK(cand, corpus, queries, k)
  }

  // ---- SemDeDup: semantic deduplication over the embedding space ------

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023,
    * arXiv:2303.09540): k-means-cluster the embeddings with the
    * deterministic fixed-point coarse quantizer ([[ivfCentroids]]),
    * generate candidate pairs ONLY within a cluster, keep pairs with exact
    * cosine ≥ tau, connect them into semantic-duplicate groups, and mark
    * one keeper per group — the member FARTHEST from its cluster centroid
    * (the paper's diversity-preserving choice: the most atypical exemplar
    * survives; near-dup pairs never straddle clusters by construction, so
    * every group sits in exactly one cluster and its centroid is
    * well-defined), ties by lowest id.
    *
    * Scale shape: centroids are `nlist` rows and broadcast; the corpus is
    * scanned once for assignment; quadratic work is confined to
    * intra-cluster pairs (cluster size ≈ n/nlist — grow nlist with the
    * corpus to bound it, exactly the paper's lever) and a viral cluster
    * spreads pair-preservingly through [[SkewSalting.selfJoinPairs]];
    * group resolution is the iterative large/small-star CC; keeper
    * selection is a map-side-combining min-struct aggregate + join-back —
    * no window over a semantic group.
    *
    * @param corpus (id, vec: array<float>), integral unique ids
    * @return (id, group_id, keep): group_id = min id of the semantic
    *         group (singletons form their own), keep = survives dedup. */
  def semanticDedup(corpus: DataFrame, tau: Double, nlist: Int = 16,
                    iters: Int = 3, saltCap: Int = SaltCap,
                    saltFanout: Int = SaltFanout): DataFrame = {
    val spark = corpus.sparkSession
    val cents = ivfCentroidsRow(corpus, nlist, iters, dimOf(corpus))
    // (id, cid) + distance-to-centroid, reused by edges AND keeper pick.
    // ONE map-side fold yields both the winning cid and its cosine (the
    // previous shape re-joined the corpus and the centroid table — two
    // corpus-scaled shuffles — to recompute exactly this score); the fold
    // is let-bound (single-element transform) so the interpreted argmax
    // runs once per row, and ccos is the winner's score from the same
    // division chain — bit-identical doubles.
    val assigned = corpus.crossJoin(broadcast(cents))
      .where(size(col("_cents")) > 0)
      .select(col("id"),
        inline(transform(array(bestCentroid(col("vec"), col("_cents"))), b =>
          struct(negate(b("ncid")).cast("long").as("cid"),
            b("score").as("ccos")))))
      .localCheckpoint(false)
    val cand = SkewSalting.selfJoinPairs(
      assigned.select("cid", "id"), Seq("cid"), "id", saltCap, saltFanout)
    val edges = verifyCosine(cand, corpus, tau)
    val comp = ConnectedComponents.run(spark, edges,
      nodes = Some(corpus.select("id")),
      edgesCanonical = true) // selfJoinPairs + cosine filter: distinct, a < b
    val memb = comp.withColumnRenamed("cluster_id", "group_id")
      .join(assigned.select("id", "ccos"), "id")
    val keepers = memb.groupBy("group_id")
      .agg(min(struct(col("ccos"), col("id"))).as("kp"))
      .select(col("group_id"), col("kp")("id").as("_keeper"))
    memb.join(keepers, "group_id")
      .select(col("id"), col("group_id"),
        (col("id") === col("_keeper")).as("keep"))
  }

  /** Exact-cosine scoring + per-query top-k of candidate pairs. Norms once
    * per vector (same division order as the inline cosine — bit-identical
    * doubles, fewer flops per candidate); the query side broadcasts. */
  private def rankTopK(cand: DataFrame, corpus: DataFrame, queries: DataFrame,
                       k: Int): DataFrame = {
    val qv = queries.select(col("id").as("query_id"), col("vec").as("qv"),
      norm(col("vec")).as("qn"))
    val cv = corpus.select(col("id").as("neighbor_id"), col("vec").as("cv"),
      norm(col("vec")).as("cn"))
    val scored = cand.join(broadcast(qv), "query_id").join(cv, "neighbor_id")
      .select(col("query_id"), col("neighbor_id"),
        (dot(col("qv"), col("cv")) / col("qn") / col("cn")).as("cos"))
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"))
  }

  // ---- SQ8: scalar-quantized search (the memory-bound scale lever) ----

  /** Per-dimension uint8 scalar quantization (the SQ8 codec of the FAISS
    * family / Jégou et al.'s scalar baseline): code[d] = floor((x[d] −
    * min_d) · 255 / (max_d − min_d)) clamped to [0, 255], with the
    * per-dimension corpus min/max as the trained range (a constant-width
    * degenerate dimension codes to 0). 4× smaller than float32 — at 10^12
    * vectors the difference between an index that fits executor memory and
    * one that doesn't — and the asymmetric trick of scoring QUANTIZED dot
    * products keeps the whole search integer-only (exact cross-engine
    * hashing, SIMD-friendly at runtime).
    *
    * FP parity: the scale arithmetic is pinned as ((x − mn) · 255.0) /
    * (mx − mn) on doubles cast from the stored floats — the same op order
    * the DuckDB oracle uses, so the codes are bit-identical.
    *
    * Scale shape: the range "training" is a d-row map-side-combining agg
    * (one (dim → min/max) pair per partition per dim); the d-entry range
    * arrays ride to every executor as a broadcast single-row cross join;
    * encoding is map-side. Nothing here shuffles the corpus.
    *
    * @param corpus (id, vec: array<float>)
    * @return (id, code: array<bigint> in [0,255])  */
  def sq8Encode(corpus: DataFrame): DataFrame = {
    // range "training" as ONE fixed-width aggregate (dims min/max columns,
    // map-side combining, no posexplode fan-out and no per-dim shuffle);
    // same float min/max per dimension as the exploded formulation. The
    // isNotNull guard keeps the empty-corpus contract (empty in → empty
    // out) that the global agg's always-one-row shape would otherwise break.
    val dims = dimOf(corpus)
    if (dims == 0) // empty corpus: empty encoding, as before
      return corpus.where(lit(false))
        .select(col("id"), transform(col("vec"), v => lit(0L)).as("code"))
    val ranges = corpus
      .agg(array((0 until dims).map(i =>
          min(element_at(col("vec"), i + 1))): _*).as("mns"),
        array((0 until dims).map(i =>
          max(element_at(col("vec"), i + 1))): _*).as("mxs"))
      .where(element_at(col("mns"), 1).isNotNull)
    corpus.crossJoin(broadcast(ranges))
      .select(col("id"),
        zip_with(col("vec"),
          sequence(lit(0), size(col("vec")) - 1),
          (x, i) => {
            val mn = element_at(col("mns"), i + 1).cast("double")
            val mx = element_at(col("mxs"), i + 1).cast("double")
            when(mx > mn,
              least(lit(255L),
                floor(((x.cast("double") - mn) * lit(255.0)) / (mx - mn))))
              .otherwise(lit(0L))
          }).as("code"))
  }

  /** Brute-force top-k over SQ8 codes — the quantized counterpart of
    * [[bruteForceTopK]] and the re-rank baseline for SQ8 recall checks.
    * Scores are integer quantized dot products (≤ 255²·d — long-safe to
    * d ≈ 10^14), so ranking, tie-breaks (by neighbor id) and the emitted
    * `qdot` are all exact integers. The query side broadcasts; the corpus
    * is scanned once, never shuffled; compose with [[lshBuckets]] /
    * [[ivfTopK]] candidate pruning when the corpus outgrows a full scan.
    *
    * @return (query_id, rank, neighbor_id, qdot) */
  def sq8TopK(corpus: DataFrame, queries: DataFrame, k: Int = AnnTopK): DataFrame = {
    val codes = sq8Encode(corpus)
    val qIds = queries.select(col("id").as("query_id"))
    val q = broadcast(codes.join(qIds, codes("id") === qIds("query_id"))
      .select(col("query_id"), col("code").as("qc")))
    val scored = q.join(codes.select(col("id").as("neighbor_id"), col("code")),
        col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        aggregate(zip_with(col("qc"), col("code"), (a, b) => a * b),
          lit(0L), (acc, v) => acc + v).as("qdot"))
    val w = Window.partitionBy("query_id").orderBy(col("qdot").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("qdot"))
  }

  /** Reciprocal-rank fusion (Cormack et al. 2009) — the hybrid-retrieval
    * combiner: each ranked list (query_id, rank, neighbor_id, ...)
    * contributes floor(10^9 / (rrfK + rank)) to a neighbor's score and
    * the fused list re-ranks by total. Integer floor division on
    * positives keeps the fusion exactly hashable cross-engine (the usual
    * 1/(k+r) floats drift). Lists are rank-truncated already, so the
    * fusion input is O(queries · k · lists) — driver-scale tiny; the
    * heavy lifting stays in the individual retrievers.
    * @return (query_id, rank, neighbor_id, rrf) */
  def rrfFuse(lists: Seq[DataFrame], k: Int = AnnTopK, rrfK: Int = 60): DataFrame = {
    require(lists.nonEmpty)
    val u = lists.map(_.select("query_id", "neighbor_id", "rank")).reduce(_ unionByName _)
    val scored = u.groupBy("query_id", "neighbor_id")
      .agg(sum(call_function("div", lit(1000000000L), lit(rrfK.toLong) + col("rank"))).as("rrf"))
    val w = Window.partitionBy("query_id").orderBy(col("rrf").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("rrf"))
  }

  // ---- PQ (product quantization, Jégou et al. 2011) over SQ8 codes —
  // the other half of the IVF-PQ architecture that serves 10^12 vectors:
  // each vector compresses to M log2(K)-bit codes (here 8×4 bits = 4
  // bytes vs 256 float bytes, 64×), and a query scores the WHOLE corpus
  // by per-query M×K lookup tables (ADC) — integer adds, no per-pair
  // float math, corpus never shuffled. Everything below is exact integer
  // arithmetic on the pinned SQ8 codes: centroid updates divide by
  // round-half-up integral division (div of non-negatives — identical to
  // DuckDB's //), so training, codes, tables and ranks all hash-match.

  /** Subvector struct array of an SQ8 code column: [(m, sub)] with
    * sub = code[m·s+1 .. (m+1)·s], s = PqSubLen. */
  private def pqSubArr(code: Column): Column =
    transform(sequence(lit(0), lit(PqM - 1)), m =>
      struct(m.cast("long").as("m"),
        slice(code, m * PqSubLen + 1, lit(PqSubLen)).as("sub")))

  /** Exact integer squared L2 between two equal-length code arrays. */
  private def l2i(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)), lit(0L), _ + _)

  /** The M·K-row codebook gathered into ONE broadcastable row — a flat
    * slot-indexed array (_cbs[m·K + k + 1] = cent(m,k)), so assignment can
    * run as a per-row fold over the K entries of a subspace instead of a
    * broadcast join + groupBy(id, m) re-shuffle (guide §2.4). pqTrainRow
    * maintains every (m, k) entry (empty entries coalesce to their
    * previous centroid), so the slot index is always dense. */
  private def codebookRow(cents: DataFrame): DataFrame =
    cents.groupBy()
      .agg(transform(
        array_sort(collect_list(struct((col("m") * PqK + col("k")).as("slot"),
          col("cent")))),
        e => e("cent")).as("_cbs"))

  /** Per-subspace Lloyd's over the code table: init = subvectors of the
    * first K ids, then `iters` rounds of assign + round-half-up integer
    * mean (an empty codebook entry keeps its previous centroid). All M
    * subspaces train in the same jobs — m is just a grouping column.
    *
    * Gathered form: the codebook lives as ONE slot-indexed row
    * (_cbs[m·K + k + 1] = cent(m,k)) ACROSS iterations. Per iteration:
    * assignment is a map-side fold over the broadcast codebook row, the
    * update ONE fixed-width (PqSubLen sums + count) groupBy(m, k) — an
    * M·K-group shuffle, vs the previous assign-shuffle + join-by-(id,m) +
    * posexplode + two groupBys — and the re-gather (map_from_entries,
    * empty entries coalescing to their previous centroid exactly like the
    * old left join) rides the same job. Per-(m,k,pos) sums/counts and the
    * round-half-up integral mean are the same integers in the same
    * per-pos order. */
  private def pqTrainRow(codes: DataFrame, iters: Int = PqIters): DataFrame = {
    var cbs = codebookRow(codes.orderBy("id").limit(PqK)
        .select(col("code"),
          (row_number().over(Window.orderBy("id")) - 1).cast("long").as("k"))
        .select(col("k"), explode(pqSubArr(col("code"))).as("e"))
        .select(col("e.m").as("m"), col("k"), col("e.sub").as("cent")))
      .localCheckpoint(false)
    // loud geometry guard (round-5 ADVICE low): with fewer than PqK
    // training rows the slot-indexed codebook would be sparse and slot
    // arithmetic misaligned — the OLD formulation silently produced wrong
    // ranks there; fail instead. Empty input keeps the empty-codebook
    // contract. The limit-count probe is ≤ PqK rows.
    val nInit = codes.select(lit(1)).limit(PqK).count()
    if (nInit == 0L) return cbs
    require(nInit >= PqK,
      s"PQ training needs >= $PqK corpus rows, got $nInit")
    (1 to iters).foreach { _ =>
      // assignment via the compiled pqCode kernel (one pass per code row —
      // the nested least(struct) fold was interpreted), exploded to
      // (m, k) and aggregated with fixed-width per-position sums
      cbs = codes.crossJoin(broadcast(cbs))
        .select(col("code"),
          posexplode(graft.functions.GraftExpressions.pqCode(col("code"),
            col("_cbs"))).as(Seq("m", "k")))
        .groupBy("m", "k")
        .agg(count(lit(1)).as("n"),
          array((0 until PqSubLen).map(p =>
            sum(element_at(col("code"), col("m") * PqSubLen + p + 1))): _*).as("_s"))
        .select((col("m").cast("long") * PqK + col("k")).as("slot"),
          transform(col("_s"),
            s => call_function("div", s * 2L + col("n"), col("n") * 2L)).as("cent"))
        .groupBy()
        .agg(map_from_entries(array_sort(collect_list(struct(col("slot"),
          col("cent"))))).as("_new"))
        .crossJoin(broadcast(cbs))
        .select(transform(sequence(lit(0L), lit(PqM.toLong * PqK - 1L)), s =>
          coalesce(try_element_at(col("_new"), s),
            element_at(col("_cbs"), (s + 1L).cast("int")))).as("_cbs"))
        .localCheckpoint(false)
    }
    cbs
  }

  /** (id, pqcode: array of M codebook indices) — the 4-byte compressed
    * corpus representation. One map-side pass: per subspace m the fold
    * picks the nearest codebook entry straight from the SQ8 code column —
    * no explode, no shuffle (same (m, k) values in the same m order as the
    * previous groupBy-collect formulation). */
  private def pqEncodeRow(codes: DataFrame, cbs: DataFrame): DataFrame =
    codes.crossJoin(broadcast(cbs))
      .where(size(col("_cbs")) > 0)
      .select(col("id"),
        graft.functions.GraftExpressions.pqCode(col("code"), col("_cbs"))
          .as("pqcode"))

  /** PQ-ADC top-k: queries' SQ8 subvectors build per-query M×K distance
    * tables against the trained codebook (tiny — broadcast); the encoded
    * corpus is scored map-side by M table lookups per row and the usual
    * per-query top-k window ranks. Ascending approximate distance, ties
    * by neighbor id; queries must be corpus members (scored vs all
    * others), mirroring [[sq8TopK]].
    * @return (query_id, rank, neighbor_id, adist) */
  def pqTopK(corpus: DataFrame, queries: DataFrame, k: Int = AnnTopK): DataFrame = {
    val d = dimOf(corpus)
    require(d == 0 || d == PqM * PqSubLen, // loud instead of misaligned slots
      s"pqTopK needs dim == ${PqM * PqSubLen} (PqM*PqSubLen), got $d")
    val codes = sq8Encode(corpus).localCheckpoint(false)
    val cbs = pqTrainRow(codes)
    val enc = pqEncodeRow(codes, cbs)
    val qIds = queries.select(col("id").as("query_id"))
    // per-query M×K lookup table built map-side in slot order from the
    // broadcast codebook — no subvector explode, no groupBy-collect
    // re-shuffle; same l2i integers at the same slots.
    val tbl = codes.join(qIds, codes("id") === qIds("query_id"))
      .crossJoin(broadcast(cbs))
      .where(size(col("_cbs")) > 0)
      .select(col("query_id"),
        flatten(transform(sequence(lit(0L), lit(PqM - 1L)), m =>
          transform(sequence(lit(0L), lit(PqK - 1L)), k =>
            l2i(slice(col("code"), (m * PqSubLen + 1L).cast("int"), lit(PqSubLen)),
              element_at(col("_cbs"), (m * PqK + k + 1L).cast("int")))))).as("tbl"))
    val scored = enc.select(col("id").as("neighbor_id"), col("pqcode"))
      .crossJoin(broadcast(tbl))
      .where(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        graft.functions.GraftExpressions.pqAdc(col("tbl"), col("pqcode"))
          .as("adist"))
    val w = Window.partitionBy("query_id").orderBy(col("adist"), col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("adist"))
  }
}
