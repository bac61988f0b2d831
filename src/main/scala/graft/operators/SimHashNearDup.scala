package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.config.GoldenConfig._
import graft.functions.TextHash.{tokens, strHash}

/** SimHash near-duplicate detection (SURVEY §2 B4/B5).
  *
  * Text variant (oracle-checkable): weighted 32-bit SimHash over token
  * frequencies — bit b is set iff Σ_tokens freq · sign(bit b of strHash(tok))
  * > 0. Conceptual ancestor in the reference is the banded geo-distance
  * scoring (R:.../deduplication/similarity/EuclidianDistance.scala → our
  * Hamming banding, SURVEY §2 A36).
  *
  * Near-dup search uses pigeonhole bucketing: split the simhash into
  * HammingChunks contiguous chunks; two hashes within Hamming distance
  * HammingMax share at least one identical (chunk_idx, chunk_value) —
  * an equi-join, never an all-pairs scan. Exact popcount(xor) filters the
  * collisions. Identical scheme, 64-bit, serves the image phash path.
  */
object SimHashNearDup {

  /** (id, text) → (id, simhash: long) with `bits`-bit simhash. ONE
    * compiled map-side pass (SimHashExpr): Σ_distinct freq·sign ≡
    * Σ_occurrences sign, so the kernel's per-occurrence bit sums produce
    * exactly the explode→groupBy formulation's integers — with ZERO
    * shuffles instead of three (token freq, per-bit sums, per-id fold).
    * The null filter mirrors the old explode's drop of null-text rows. */
  def simhashTable(df: DataFrame, idCol: String, textCol: String,
                   bits: Int = SimHashBits): DataFrame =
    df.select(col(idCol).as("id"),
        graft.functions.GraftExpressions.simHash(tokens(col(textCol)), bits)
          .as("simhash"))
      .where(col("simhash").isNotNull)

  /** Per-item majority-vote fingerprint over hash rows: bit b of the
    * output is set iff the majority of the item's hashes have bit b set
    * (ties → 0) — the Chromaprint-style clip/sequence signature of the
    * audio path (window hashes, [[graft.audio.AudioOps.fingerprints]]).
    * Output (id, simhash) feeds [[nearDupPairs]] unchanged. */
  def majorityFingerprint(df: DataFrame, idCol: String, hashCol: String,
                          bits: Int = 64): DataFrame =
    // ONE fixed-width aggregate (bits signed sums, map-side combining)
    // instead of a bits-way explode + two shuffles; the final fold of the
    // per-bit sums into the long is a plain projection. Same integers —
    // per-bit signed sums are order-independent.
    df.select(col(idCol).as("id") +: (0 until bits).map(b =>
        (shiftright(col(hashCol), b).bitwiseAND(lit(1L)) * 2L - 1L).as(s"_c$b")): _*)
      .groupBy("id")
      .agg(sum(col("_c0")).as("_s0"),
        (1 until bits).map(b => sum(col(s"_c$b")).as(s"_s$b")): _*)
      .select(col("id"),
        (0 until bits).map(b =>
          when(col(s"_s$b") > 0L, lit(1L << b)).otherwise(lit(0L)))
          .reduce(_ + _).as("simhash"))

  /** Hamming-bucket rows: (id, chunk_idx, chunk_val) — chunkBits-wide slices. */
  def buckets(sim: DataFrame, simCol: String = "simhash",
              bits: Int = SimHashBits, chunks: Int = HammingChunks): DataFrame = {
    val chunkBits = bits / chunks
    val mask = (1L << chunkBits) - 1L
    sim.select(col("id"), col(simCol).as("sh_"),
        explode(sequence(lit(0L), lit(chunks - 1L))).as("chunk_idx"))
      .withColumn("chunk_val",
        expr(s"shiftright(sh_, cast(chunk_idx * $chunkBits AS int)) & CAST($mask AS bigint)"))
      .drop("sh_")
  }

  /** Distinct pairs (a, b, dist) with popcount(xor) <= maxDist.
    *
    * Value-collapse design: all candidate work runs on DISTINCT simhash
    * values, not rows — rows sharing a hash are expanded back by join at
    * the end. On skewed corpora (near-identical content is exactly what a
    * dedup corpus is full of) this shrinks the quadratic candidate domain
    * by the duplication factor; the unavoidable part (the output itself)
    * is produced by joins, never filtered row pairs. Same exact result as
    * the naive bucket join (unit-tested).
    */
  def nearDupPairs(sim: DataFrame, simCol: String = "simhash",
                   bits: Int = SimHashBits, maxDist: Int = HammingMax,
                   saltCap: Int = SaltCap, saltFanout: Int = SaltFanout): DataFrame = {
    val rows = sim.select(col("id"), col(simCol).as("sh")).localCheckpoint(false)

    // pairs of rows with IDENTICAL simhash: dist = 0, equi-join on value
    val withinPairs = SkewSalting.selfJoinPairs(
        rows.select(col("sh").as("bucket"), col("id")), Seq("bucket"), "id",
        saltCap, saltFanout)
      .withColumn("dist", lit(0L))

    // candidate pairs among distinct VALUES via pigeonhole chunk buckets
    val values = rows.select(col("sh").as("v")).distinct().localCheckpoint(false)
    val chunkBits = bits / (maxDist + 1)
    val mask = (1L << chunkBits) - 1L
    val vb = values
      .select(col("v"), explode(sequence(lit(0L), lit(maxDist.toLong))).as("chunk_idx"))
      .withColumn("chunk_val",
        expr(s"shiftright(v, cast(chunk_idx * $chunkBits AS int)) & CAST($mask AS bigint)"))
    val valuePairs = SkewSalting.selfJoinPairs(vb,
        Seq("chunk_idx", "chunk_val"), "v", saltCap, saltFanout)
      .withColumnRenamed("a", "va").withColumnRenamed("b", "vb")
      .withColumn("dist", expr("cast(bit_count(va ^ vb) AS bigint)"))
      .where(col("dist") > 0 && col("dist") <= maxDist)

    // expand value pairs back to row pairs (va < vb ⇒ disjoint groups)
    val crossPairs = valuePairs
      .join(rows.select(col("sh").as("va"), col("id").as("ia")), "va")
      .join(rows.select(col("sh").as("vb"), col("id").as("ib")), "vb")
      .select(least(col("ia"), col("ib")).as("a"),
        greatest(col("ia"), col("ib")).as("b"), col("dist"))

    withinPairs.select(col("a"), col("b"), col("dist"))
      .unionByName(crossPairs)
  }
}
