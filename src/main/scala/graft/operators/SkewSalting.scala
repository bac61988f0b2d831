package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Explicit skew handling for bucket self-joins (north rule: "explicit
  * salting/repartitioning of skewed LSH buckets").
  *
  * The reference's only skew control is dropping blocks larger than
  * maxBlockSize (R:.../deduplication/Blocking.scala, SURVEY §2 A10) — which
  * silently loses recall. Here oversized buckets keep ALL their pairs but
  * the quadratic work is spread over `fanout` salted sub-buckets:
  *
  * Pair-preserving self-join salting: each row in a hot bucket gets a
  * deterministic salt s ∈ [0, fanout); the left side keeps its salt, the
  * right side is replicated to every salt. The join key becomes
  * (bucket, salt_left) so one mega-bucket becomes `fanout` tasks, and every
  * pair (i, j) still meets exactly once (at s = salt(i)).
  *
  * Skew/shuffle design (all three decisions shaped by what a viral key does
  * to a 1000-executor shuffle):
  *
  *  1. Bucket sizes come from `groupBy(keys).count()` — partial (map-side)
  *     aggregation means a viral bucket contributes ONE partial row per map
  *     task; no single task ever holds the whole bucket. (A window count
  *     over the key — the previous formulation — forces every row of the
  *     viral bucket into one window task before salting can spread the
  *     work, reintroducing the straggler this operator exists to remove.)
  *  2. The hot-key set (count > cap) is tiny by construction and is
  *     BROADCAST for the hot/cold row split — a map-side operation, so hot
  *     rows are never co-located by their skewed key before salting.
  *  3. Singleton buckets (count < 2) can produce no pairs but are the vast
  *     majority of LSH band buckets — pure shuffle waste in a self-join. A
  *     bloom filter over the multi-member bucket keys kills them MAP-SIDE,
  *     before any shuffle. Bloom false positives only let a singleton
  *     through (it yields no pair); there are no false negatives, so the
  *     pair set is exact. Past `BloomMaxKeys` multi-buckets the bloom stops
  *     being broadcastable and a shuffle semi-join takes over (rows shuffle
  *     on the keys once; the self-join then reuses that exchange).
  *
  * Cold multi-member buckets take the plain equi-join path; AQE skew-join
  * handles residual imbalance (enabled in session conf).
  */
object SkewSalting {

  /** Above this many multi-member buckets the bloom (~1 byte/key at 3% fpp)
    * is no longer worth broadcasting to every executor; the semi-join
    * fallback keeps the plan fully distributed. */
  val BloomMaxKeys: Long = 32000000L

  /** Bloom false-positive rate: FPs only admit pair-less singleton rows to
    * the join, so a few percent costs almost nothing. */
  val BloomFpp: Double = 0.03

  /** Minimum singleton-row mass before the bloom engages. Building and
    * broadcasting the filter costs a driver job + a scan of the bucket
    * counts; below this, letting the (pair-less) singletons ride the join
    * shuffle is cheaper — measured: the bloom's fixed cost added ~15% to
    * every salted query at sf0.1 while saving nothing, and at bench/test
    * scale the singleton mass never reaches this bar. At the 10^12-row
    * target the band table is ~95% singletons and the bloom always
    * engages. */
  val BloomMinSingletons: Long = 1000000L

  /** Distinct unordered pairs (a < b) of `idCol` values sharing the bucket
    * key columns, skew-salted.
    *
    * @param df       rows with bucket key columns + id column
    * @param keyCols  bucket key column names
    * @param idCol    orderable id column name
    * @param cap      bucket size above which salting kicks in
    * @param fanout   number of salt partitions for hot buckets
    */
  def selfJoinPairs(df: DataFrame, keyCols: Seq[String], idCol: String,
                    cap: Int, fanout: Int): DataFrame =
    selfJoinPairsVerified(df, keyCols, idCol, Nil, cap, fanout)

  /** Like [[selfJoinPairs]], but each pair must ALSO agree on `verifyCols` —
    * which are NOT part of the bucket/salt key. Use when the bucket key is a
    * hash and exactness requires comparing the underlying value within the
    * bucket (e.g. the suffix-array pass: bucket by l-gram HASH — longs
    * shuffle and compare cheaply — then verify the l-token prefix string
    * only against same-bucket rows, so a hash collision can never produce a
    * false pair). */
  def selfJoinPairsVerified(df: DataFrame, keyCols: Seq[String], idCol: String,
                            verifyCols: Seq[String], cap: Int, fanout: Int): DataFrame = {
    val keys = keyCols.map(col)
    val payload = verifyCols.map(col)
    // Materialized once (lazily): consumed by the bucket-size aggregation,
    // the bloom build and the pair joins — without this every consumer
    // recomputes the whole upstream signature pipeline.
    val rows = df.select(keys ++ payload :+ col(idCol).as("id"): _*)
      .localCheckpoint(false)
    val spark = rows.sparkSession

    val counts = rows.groupBy(keys: _*).agg(count(lit(1)).as("bcount"))
      .localCheckpoint(false)
    val multi = counts.where(col("bcount") >= 2L)
    val hotKeys = multi.where(col("bcount") > cap).select(keys: _*)

    // one action decides BOTH strategies: singleton handling (multi-bucket
    // vs singleton row mass) and whether any hot bucket exists at all —
    // the hot count rides the same aggregate, so skipping the entire
    // salted branch below costs no extra job
    val st = counts.agg(
      count(when(col("bcount") >= 2L, lit(1))).as("mb"),
      sum(when(col("bcount") >= 2L, col("bcount"))).as("mr"),
      sum(col("bcount")).as("tr"),
      count(when(col("bcount") > cap.toLong, lit(1))).as("hb")).head()
    val multiBuckets = st.getLong(0)
    if (multiBuckets == 0L)
      return rows.where(lit(false)).select(col("id").as("a"), col("id").as("b"))
    val multiRows = st.getLong(1)
    val singletonRows = st.getLong(2) - multiRows
    val hotBuckets = st.getLong(3)

    // xxhash64 folds any key shape into one long for the bloom; a hash
    // collision only makes a singleton look multi-member (FP-safe).
    val keyHash = xxhash64(keys: _*)
    val kept =
      if (singletonRows < math.max(BloomMinSingletons, multiRows))
        rows // not enough dead weight to pay for a filter — singletons pair with nothing
      else if (multiBuckets <= BloomMaxKeys) {
        val bloom = multi.stat.bloomFilter(keyHash, multiBuckets, BloomFpp)
        val bc = spark.sparkContext.broadcast(bloom)
        val mightContain = udf((h: Long) => bc.value.mightContain(h))
        rows.where(mightContain(keyHash))
      } else rows.join(multi.select(keys: _*), keyCols, "left_semi")

    // no hot bucket → the anti/semi splits, the salted joins and the
    // union are dead plan weight (several AQE stage-jobs); skip them.
    // Data-adaptive, not a scale assumption: the salted branch engages
    // exactly when a bucket actually exceeds cap.
    if (hotBuckets == 0L)
      return pairJoin(kept, kept, keyCols, verifyCols).dropDuplicates("a", "b")

    val cold = kept.join(broadcast(hotKeys), keyCols, "left_anti")
    val coldPairs = pairJoin(cold, cold, keyCols, verifyCols)

    val hotRows = kept.join(broadcast(hotKeys), keyCols, "left_semi")
    val salted = hotRows.withColumn("salt", pmod(xxhash64(col("id")), lit(fanout)))
    val replicated = hotRows
      .withColumn("salt", explode(sequence(lit(0L), lit(fanout - 1L))))
    val hotPairs = pairJoin(salted, replicated, keyCols :+ "salt", verifyCols)

    coldPairs.unionByName(hotPairs).dropDuplicates("a", "b")
  }

  /** A bloom false positive on the CROSS join admits a left row that then
    * rides the bucket-count shuffle and the pair join before matching
    * nothing — costlier than the self-join case (where an FP singleton dies
    * at the join), so spend the extra ~0.5 byte/key for a tighter filter. */
  val BloomFppCross: Double = 0.01

  /** Below this many right-side buckets the key set is comfortably
    * broadcastable (≤ ~32 MB framed) and a plain left-semi join filters
    * the corpus map-side with NO separate driver action — the bloom's
    * build (a blocking aggregate job + udf) only pays in the mid regime
    * where the keys are too many to broadcast but few enough to fit a
    * filter ([[BloomMaxKeys]]). Exact either way (semi-join has no false
    * positives at all). */
  val BroadcastKeysMax: Long = 2000000L

  /** Distinct cross pairs (a from `left`, b from `right`) sharing the bucket
    * key columns, skew-salted — the two-table analog of [[selfJoinPairs]]
    * and the shape of the reference's actual blocking join (blocks are
    * master × staging lists, R:.../deduplication/Blocking.scala `blocking()`;
    * SURVEY §2 A11). Used for incremental dedup: pair a new import delta
    * against the existing corpus without re-pairing the corpus with itself.
    * `right` should be the DELTA (smaller) side — semantics don't depend on
    * it, but the pruning below is engineered for a big left / small right.
    *
    * Skew/shuffle design — the asymmetry is the point. A corpus-side
    * `groupBy(keys).count()` would itself shuffle ~one record per corpus
    * bucket, spending exactly the shuffle the filter is meant to save
    * (measured: it made the bloom a net zero). So nothing corpus-wide is
    * ever aggregated:
    *
    *  1. The RIGHT side's distinct bucket set (delta-sized) builds a
    *     broadcast bloom ([[BloomFppCross]]); corpus rows outside the
    *     delta's bucket footprint die MAP-SIDE before any shuffle. FPs only
    *     admit rows that join to nothing (never FN — the pair set is
    *     exact). Past [[BloomMaxKeys]] right buckets, a shuffle semi-join
    *     takes over.
    *  2. Bucket counts for hot detection are computed on the FILTERED left
    *     side (≈ delta footprint + FP noise) and the right side — both
    *     delta-scaled `groupBy` partial aggs, no viral-key straggler.
    *  3. Hot buckets (left·right pair count > cap²) are salted
    *     pair-preservingly: the BIGGER side of each hot bucket gets a
    *     deterministic salt s ∈ [0, fanout), the smaller side is replicated
    *     to every salt, and the join key becomes (bucket, salt) — every
    *     (a, b) pair still meets exactly once, at the bigger row's salt.
    *     Salting the bigger side caps a salted task at
    *     max(bigger/fanout · smaller) pairs; a fixed-side choice would
    *     leave the full bucket in one task whenever the viral side was the
    *     replicated one.
    *  4. Cold buckets take the plain equi-join; AQE skew-join mops up
    *     residual imbalance.
    */
  /** @param maxBloomKeys overrides [[BloomMaxKeys]] — exposed so the
    *                      shuffle semi-join fallback is testable at small
    *                      scale; production callers keep the default.
    * @param leftBucketed  the left (corpus) side is served from a table
    *                      hash-bucketed on `keyCols` (see
    *                      [[graft.pipeline.StageStore.isBucketed]]): its
    *                      scan already exposes the join's required
    *                      partitioning, so the filtered corpus is cached
    *                      partitioning-PRESERVINGLY (persist, not
    *                      localCheckpoint — a checkpoint erases
    *                      outputPartitioning) and the cold pair join plus
    *                      the bucket-count aggregation run with ZERO
    *                      corpus-side Exchange. Even the bloom's false
    *                      positives (~[[BloomFppCross]] of the CORPUS — a
    *                      corpus-scaled term the map-side filter cannot
    *                      remove) then die locally in the join instead of
    *                      riding the shuffle. The hot path explicitly
    *                      BREAKS the inherited partitioning first: salting
    *                      exists to spread one viral bucket over `fanout`
    *                      tasks, and a plan that keeps the bucket
    *                      co-located would satisfy the salted join's
    *                      distribution requirement without an exchange —
    *                      reintroducing the straggler. */
  def crossJoinPairs(left: DataFrame, right: DataFrame, keyCols: Seq[String],
                     idCol: String, cap: Int, fanout: Int,
                     maxBloomKeys: Long = BloomMaxKeys,
                     leftBucketed: Boolean = false): DataFrame = {
    val keys = keyCols.map(col)
    val l = left.select(keys :+ col(idCol).as("id"): _*)
    val r = right.select(keys :+ col(idCol).as("id"): _*).localCheckpoint(false)
    val spark = r.sparkSession

    // delta bucket footprint → map-side filter of the corpus side
    val rKeys = r.select(keys: _*).distinct().localCheckpoint(false)
    val rBuckets = rKeys.count()
    if (rBuckets == 0L)
      return r.where(lit(false)).select(col("id").as("a"), col("id").as("b"))
    val keyHash = xxhash64(keys: _*)
    val filteredL = if (rBuckets <= BroadcastKeysMax)
      // explicit broadcast: a BroadcastHashJoin LeftSemi streams the
      // corpus side partitioning-preservingly (the leftBucketed contract
      // keeps holding) and needs no separate driver action
      l.join(broadcast(rKeys), keyCols, "left_semi")
    else if (rBuckets <= maxBloomKeys) {
      val bloom = rKeys.stat.bloomFilter(keyHash, rBuckets, BloomFppCross)
      val bc = spark.sparkContext.broadcast(bloom)
      val mightContain = udf((h: Long) => bc.value.mightContain(h))
      l.where(mightContain(keyHash))
    } else l.join(rKeys, keyCols, "left_semi")
    val keptL =
      if (leftBucketed) {
        val p = filteredL.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        bucketedSlices.add(p)
        p
      } else filteredL.localCheckpoint(false)

    // both counts are delta-scaled now; pairable = both sides present
    val lc = keptL.groupBy(keys: _*).agg(count(lit(1)).as("lcount"))
    val rc = r.groupBy(keys: _*).agg(count(lit(1)).as("rcount"))
    val pairable = lc.join(rc, keyCols).localCheckpoint(false)

    val capPairs = cap.toLong * cap.toLong
    val hot = pairable.where(col("lcount") * col("rcount") > capPairs)
      .select(keys :+ (col("lcount") >= col("rcount")).as("left_bigger"): _*)
      .localCheckpoint(false)
    val keptR = r

    // cold = no hot match. An outer join to the whole of `hot` (not an
    // anti join to its keys) broadcasts the same table as the hot legs, so
    // one broadcast serves all four joins and the lazy `hot` is read once.
    def cold(side: DataFrame) = side.join(broadcast(hot), keyCols, "left_outer")
      .where(col("left_bigger").isNull).drop("left_bigger")
    val coldL = cold(keptL)
    val coldR = cold(keptR)
    val coldPairs = crossPairJoin(coldL, coldR, keyCols)

    // hot path: per-bucket choice of which side salts vs replicates. The
    // localCheckpoint under leftBucketed deliberately erases the inherited
    // bucket partitioning (hot rows are the delta-footprint ∩ hot-key
    // subset — tiny) so the salted join MUST redistribute on (key, salt)
    // — see the leftBucketed param doc.
    val hotL0 = keptL.join(broadcast(hot), keyCols, "inner")
    val hotL = if (leftBucketed) hotL0.localCheckpoint(false) else hotL0
    val hotR = keptR.join(broadcast(hot), keyCols, "inner")
    def salted(side: DataFrame, saltsWhenBigger: Boolean): DataFrame = {
      val bigger = if (saltsWhenBigger) col("left_bigger") else !col("left_bigger")
      side.withColumn("salt", explode(
        when(bigger, array(pmod(xxhash64(col("id")), lit(fanout.toLong))))
          .otherwise(sequence(lit(0L), lit(fanout - 1L)))))
    }
    val hotPairs = crossPairJoin(
      salted(hotL, saltsWhenBigger = true).drop("left_bigger"),
      salted(hotR, saltsWhenBigger = false).drop("left_bigger"),
      keyCols :+ "salt")

    coldPairs.unionByName(hotPairs).dropDuplicates("a", "b")
  }

  /** Corpus slices cached partitioning-preservingly by leftBucketed
    * [[crossJoinPairs]] calls. Persisted handles outlive the call by
    * design (the pair plan is lazy), so a long-lived session must release
    * them once the plan is drained — previously they accumulated one
    * corpus-scaled cache entry per import until LRU eviction (round-5
    * ADVICE low). */
  private val bucketedSlices =
    new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]()

  /** Unpersist every corpus slice cached by leftBucketed
    * [[crossJoinPairs]] calls so far. Call AFTER the pair plans have been
    * drained (e.g. after an import's verified-edges stage commits);
    * non-blocking. */
  def releaseBucketedSlices(): Unit = {
    var df = bucketedSlices.poll()
    while (df != null) { df.unpersist(false); df = bucketedSlices.poll() }
  }

  private def crossPairJoin(l: DataFrame, r: DataFrame,
                            joinCols: Seq[String]): DataFrame = {
    val lhs = l.select(joinCols.map(col) :+ col("id").as("a"): _*)
    val rhs = r.select(joinCols.map(col) :+ col("id").as("b"): _*)
    lhs.join(rhs, joinCols).select(col("a"), col("b"))
  }

  private def pairJoin(l: DataFrame, r: DataFrame, joinCols: Seq[String],
                       verifyCols: Seq[String]): DataFrame = {
    val lhs = l.select(joinCols.map(col) ++
      verifyCols.map(c => col(c).as(s"${c}_l")) :+ col("id").as("a"): _*)
    val rhs = r.select(joinCols.map(col) ++
      verifyCols.map(c => col(c).as(s"${c}_r")) :+ col("id").as("b"): _*)
    val verified = verifyCols.foldLeft(lhs.join(rhs, joinCols)) { (d, c) =>
      d.where(col(s"${c}_l") === col(s"${c}_r"))
    }
    verified.where(col("a") < col("b")).select(col("a"), col("b"))
  }
}
