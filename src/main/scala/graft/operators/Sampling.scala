package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.config.GoldenConfig.{P, LcgMul, LcgAddA}

/** Deterministic sampling for training-data pipelines. Spark's built-in
  * `df.sample` is seed-deterministic only per partitioning — a repartition
  * or a different file split changes which rows survive, which is
  * unacceptable for reproducible corpus builds. Both operators here hash
  * the ROW KEY with the engine's pinned LCG, so the same row always makes
  * the same decision on any cluster layout, any partition count, any day.
  *
  * Scale shape: [[bernoulli]] is a pure map-side filter (no shuffle, no
  * state); [[stratifiedTopK]] is a bounded top-k AGGREGATE (k-capped
  * per-partition partial state, map-side combined) + a join-back — a viral
  * stratum with m rows across p partitions shuffles ≤ k·p pairs instead of
  * landing all m rows in one window task, and the join-back's skew is
  * AQE-splittable. Property-tested row-identical to the straightforward
  * window formulation (kept as [[stratifiedTopKWindow]]).
  */
object Sampling {

  /** Pinned per-row sampling key in [0, P): the LCG step of the numeric id,
    * with the id reduced mod P FIRST so the multiply never exceeds
    * ~2.4e18 < Long.Max for any id (ANSI mode throws on overflow — an
    * unreduced 10^12-scale id would crash here). Reproducible in ANSI SQL
    * (the DuckDB oracle runs the same integers). */
  def sampleKey(id: Column, seed: Long = 0L): Column =
    pmod(lit(LcgMul) * pmod(id + lit(seed), lit(P)) + lit(LcgAddA), lit(P))

  /** Keep a row iff its sampling key lands under `rateMillis`/1000 —
    * deterministic Bernoulli(rate) independent of layout. */
  def bernoulli(df: DataFrame, idCol: String, rateMillis: Int,
                seed: Long = 0L): DataFrame = {
    require(rateMillis >= 0 && rateMillis <= 1000, "rateMillis in [0, 1000]")
    df.where(sampleKey(col(idCol), seed) % 1000L < rateMillis.toLong)
  }

  /** Exactly-k-per-stratum deterministic sample: rows ranked inside each
    * stratum by sampling key (id tiebreak), first k kept; output = the
    * input columns plus `sample_rank` (1..k). `idCol` must be a unique
    * numeric row key (it already must be numeric for [[sampleKey]]; the
    * join-back additionally relies on uniqueness). Duplicate ids are NOT
    * detected (a per-call count-vs-distinct scan would double the
    * operator's cost): a duplicated id that wins fans out through the
    * join-back — every row carrying it comes back with the same
    * sample_rank, diverging from [[stratifiedTopKWindow]], which would
    * rank the copies separately. Deduplicate ids upstream.
    *
    * Straggler-proof shape: [[graft.functions.BoundedTopKAgg]] caps
    * per-partition partial state at k pairs per stratum, so no task ever
    * holds a viral stratum whole — see the class scaladoc. */
  def stratifiedTopK(df: DataFrame, idCol: String, stratumCol: String,
                     k: Int, seed: Long = 0L): DataFrame = {
    require(k > 0, "k must be positive")
    // fail loudly instead of silently truncating: the join-back keys on
    // the id cast to long, which is only faithful for integral ids
    // (review finding — a fractional DoubleType id would alias rows)
    require(Set("long", "integer", "short", "byte")
        .contains(df.schema(idCol).dataType.typeName),
      s"stratifiedTopK needs an integral id column, got " +
        s"${df.schema(idCol).dataType.simpleString} for '$idCol'")
    val winners = df
      .select(col(stratumCol).as("_st"), sampleKey(col(idCol), seed).as("_sk"),
        col(idCol).cast("long").as("_sid"))
      .groupBy("_st")
      .agg(graft.functions.BoundedTopKAgg.boundedTopK(col("_sk"), col("_sid"), k).as("_top"))
      .select(posexplode(col("_top")))
      .select(col("col")("id").as("_sid"), (col("pos") + 1).cast("long").as("sample_rank"))
    df.join(winners, col(idCol).cast("long") === col("_sid"))
      .drop("_sid")
  }

  /** Balanced mixture: deterministically downsample every stratum (data
    * source, language, …) to the size of the SMALLEST one — the simplest
    * training-corpus mixing policy ("equal parts of every source"),
    * layout-independent like everything here. The minority size is a
    * scalar aggregate read on the driver (metadata-scale, same class of
    * decision as SkewSalting's hot-key probe).
    *
    * k here is the MINORITY-STRATUM SIZE — unbounded in the corpus, so the
    * bounded-heap aggregate behind [[stratifiedTopK]] (k-entry heap per
    * stratum per partition, serialized through the shuffle) inverts from
    * straggler fix into memory bomb (round-4 verdict "What's wrong #1").
    * The sample is therefore [[stratifiedTopKByThreshold]]: selection by
    * per-stratum k-th-order-statistic threshold over the pinned sample
    * key — histogram passes plus a map-side filter, no per-task state
    * proportional to k anywhere. Row-identical to [[stratifiedTopK]] /
    * [[stratifiedTopKWindow]] (property-tested). */
  def balancedMix(df: DataFrame, idCol: String, stratumCol: String,
                  seed: Long = 0L): DataFrame = {
    val r = df.groupBy(col(stratumCol)).agg(count(lit(1)).as("cnt"))
      .agg(min(col("cnt"))).head()
    if (r.isNullAt(0)) // empty input: empty output with the same shape
      return df.withColumn("sample_rank", lit(0L)).limit(0)
    stratifiedTopKByThreshold(df, idCol, stratumCol, r.getLong(0), seed)
  }

  /** Exactly-k-per-stratum deterministic sample for UNBOUNDED k — the
    * scale path [[balancedMix]] rides. Same output contract as
    * [[stratifiedTopK]] (input columns + `sample_rank` 1..k, ranked by
    * (sampleKey, id)), different shape: instead of carrying k-entry state
    * through an aggregation, compute each stratum's k-th order statistic
    * over the sample-key domain and keep rows by a map-side filter.
    *
    *  1. one map-side-combining histogram of keys into 2^16 buckets
    *     (key domain [0,P), bucket = key >> 15) + a cumulative window
    *     over the ≤65536-row-per-stratum histogram → the bucket holding
    *     the k-th key;
    *  2. exact per-key counts INSIDE each stratum's boundary bucket
    *     (≈ stratum/2^16 rows scanned, ≤32768 distinct keys) → the
    *     threshold key T and how many rows tied at T are still needed;
    *  3. selection: key < T keeps map-side; ties at T (ids colliding
    *     mod P — ≈ stratum/P rows, real at 10^12 ids) are ranked by id in
    *     a window over just the tied rows;
    *  4. `sample_rank` reassembled exactly as bucket-cumulative offset +
    *     row_number within (stratum, bucket) — the largest window
    *     partition anywhere is one bucket's selected rows
    *     (≈ stratum/2^16), never the stratum and never k.
    *
    * Worst case: ids concentrated on few residues mod P collapse keys
    * into few buckets (the within-bucket window grows toward the
    * stratum); any id range spread over ≥ a few multiples of P keeps
    * buckets uniform because the key map is an affine bijection mod P. */
  private[graft] def stratifiedTopKByThreshold(df: DataFrame, idCol: String,
                                               stratumCol: String, k: Long,
                                               seed: Long = 0L): DataFrame = {
    require(k > 0, "k must be positive")
    require(Set("long", "integer", "short", "byte")
        .contains(df.schema(idCol).dataType.typeName),
      s"stratifiedTopKByThreshold needs an integral id column, got " +
        s"${df.schema(idCol).dataType.simpleString} for '$idCol'")
    val bShift = 15 // bucket width 2^15 → ceil(P / 2^15) = 65536 buckets
    val keyed = df
      .withColumn("_sk", sampleKey(col(idCol), seed))
      .withColumn("_bkt", shiftright(col("_sk"), bShift))

    // 1. boundary bucket per stratum: first whose cumulative count reaches k
    val hist = keyed.groupBy(col(stratumCol).as("_st"), col("_bkt"))
      .agg(count(lit(1)).as("_c"))
    val wB = Window.partitionBy("_st").orderBy("_bkt")
      .rowsBetween(Window.unboundedPreceding, -1)
    // histogram reused for boundary AND rank offsets, which two concurrent
    // stages read: an eager checkpoint is computed once, a lazy one by each
    val cum = hist.withColumn("_cumBefore", coalesce(sum("_c").over(wB), lit(0L)))
      .localCheckpoint()
    val boundary = cum
      .where(col("_cumBefore") < k && col("_cumBefore") + col("_c") >= k)
      .select(col("_st"), col("_bkt").as("_bb"),
        (lit(k) - col("_cumBefore")).as("_need"))

    // 2. exact threshold key inside the boundary bucket (strata smaller
    // than k have no boundary row → no threshold → keep everything)
    val wK = Window.partitionBy("_st").orderBy("_sk")
      .rowsBetween(Window.unboundedPreceding, -1)
    // all stratum joins below are NULL-SAFE (<=>): a NULL stratum is a
    // legitimate group for groupBy and window partitioning, and an
    // equality join would silently drop its rows from the output — a
    // divergence from the window formulation (review finding)
    // `_need` rides the grouping (one value per stratum), so no second
    // join of `boundary` brings it back
    val thr = keyed
      .join(broadcast(boundary),
        col(stratumCol) <=> boundary("_st") && col("_bkt") === col("_bb"))
      .groupBy(col("_st"), col("_need"), col("_sk")).agg(count(lit(1)).as("_kc"))
      .withColumn("_cb", coalesce(sum("_kc").over(wK), lit(0L)))
      .where(col("_cb") < col("_need") && col("_cb") + col("_kc") >= col("_need"))
      .select(col("_st"), col("_sk").as("_T"), (col("_need") - col("_cb")).as("_nT"))

    // 3. selection: strict-below keeps map-side; ties at T rank by id
    // over only the tied rows (≈ stratum/P of the data)
    val withThr = keyed.join(broadcast(thr),
      col(stratumCol) <=> thr("_st"), "left")
    val below = withThr.where(col("_T").isNull || col("_sk") < col("_T"))
    val ties = withThr.where(col("_sk") === col("_T"))
      .withColumn("_tr", row_number().over(
        Window.partitionBy(col(stratumCol)).orderBy(col(idCol))))
      .where(col("_tr") <= col("_nT")).drop("_tr")
    val selected = below.unionByName(ties).drop("_st", "_T", "_nT")

    // 4. exact rank = rows in earlier buckets (all selected by
    // construction) + position within this bucket's selected rows
    val offsets = cum.select(col("_st"), col("_bkt").as("_ob"), col("_cumBefore"))
    selected
      .join(offsets, col(stratumCol) <=> offsets("_st") && col("_bkt") === col("_ob"))
      .withColumn("sample_rank", col("_cumBefore") + row_number().over(
        Window.partitionBy(col(stratumCol), col("_bkt"))
          .orderBy(col("_sk"), col(idCol))))
      .drop("_st", "_ob", "_cumBefore", "_sk", "_bkt")
  }

  /** Temperature-flattened source mixing (τ = 2): every stratum keeps
    * rows with probability √(minCnt / n_i) — the standard multilingual-
    * corpus flattening between "proportional to size" (τ=1, no-op) and
    * "equal parts" ([[balancedMix]], τ=∞): big sources are downsampled
    * ∝ √n so smaller sources gain relative share without starving the
    * large ones. Deterministic and layout-independent: the keep decision
    * is `sampleKey(id) % 10^6 < floor(√(minCnt/n_i)·10^6)` — a map-side
    * filter against per-stratum rates broadcast from one
    * count aggregate. No per-task state, no window, no join-back.
    *
    * τ is FIXED at 2: the rate arithmetic (cast→divide→sqrt→multiply→
    * floor) uses only correctly-rounded IEEE-754 operations, so the DuckDB
    * oracle reproduces it bit-exactly; a general τ needs pow(), which is
    * not correctly rounded and differs across libm implementations.
    * Output: the input columns of the selected rows. */
  def temperatureMix(df: DataFrame, idCol: String, stratumCol: String,
                     seed: Long = 0L): DataFrame = {
    require(Set("long", "integer", "short", "byte")
        .contains(df.schema(idCol).dataType.typeName),
      s"temperatureMix needs an integral id column, got " +
        s"${df.schema(idCol).dataType.simpleString} for '$idCol'")
    val counts = df.groupBy(col(stratumCol).as("_st"))
      .agg(count(lit(1)).as("_cnt"))
      .localCheckpoint(false) // consumed by the min aggregate AND the rate join
    val r = counts.agg(min(col("_cnt"))).head()
    if (r.isNullAt(0)) return df.limit(0)
    val minCnt = r.getLong(0)
    val rates = counts.select(col("_st"),
      floor(sqrt(lit(minCnt).cast("double") / col("_cnt").cast("double"))
        * lit(1000000.0)).cast("long").as("_keep_millionths"))
    df.join(broadcast(rates), col(stratumCol) <=> col("_st"))
      .where(sampleKey(col(idCol), seed) % 1000000L < col("_keep_millionths"))
      .drop("_st", "_keep_millionths")
  }

  /** The one-window-per-stratum formulation of [[stratifiedTopK]] — kept as
    * the semantic reference for the property spec (row-identical output);
    * a viral stratum lands whole in one window task here. */
  private[graft] def stratifiedTopKWindow(df: DataFrame, idCol: String,
                                          stratumCol: String, k: Int,
                                          seed: Long = 0L): DataFrame = {
    val w = Window.partitionBy(col(stratumCol))
      .orderBy(sampleKey(col(idCol), seed), col(idCol))
    df.withColumn("sample_rank", row_number().over(w).cast("long"))
      .where(col("sample_rank") <= k.toLong)
  }
}
