package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.config.GoldenConfig.{LcgMul, LcgAddA, P}

/** Blocking-key schemes (SURVEY §2 A37) — the reference ships a family of
  * key extractors under R:.../deduplication/blockingschemes/
  * (SimpleBlockingScheme, ListBlockingScheme, LastLettersBlockingScheme,
  * GeoCoordsBlockingScheme, RandomBlockingScheme). Re-expressed as pure
  * Column expressions (codegen'd, no UDFs): each returns the blocking key(s)
  * for a row; [[blockingStats]] turns any of them into the standard
  * (scheme, bkey, block_size) table.
  *
  * LSH supersedes these for the dedup hot path (candidate recall without
  * hand-chosen keys); they remain available for reference-parity blocking
  * and for block-size diagnostics.
  */
object BlockingSchemes {

  /** SimpleBlockingScheme: first `n` chars of the lowercased value. */
  def simpleKey(c: Column, n: Int = 3): Column =
    substring(lower(c), 1, n)

  /** LastLettersBlockingScheme: last `n` chars of the lowercased value. */
  def lastLettersKey(c: Column, n: Int = 3): Column =
    lower(c).substr(greatest(length(c) - (n - 1), lit(1)), lit(n))

  /** ListBlockingScheme: every (lowercased, whitespace) token is a key —
    * use with explode(). */
  def tokenKeys(c: Column): Column = split(lower(c), " ")

  /** GeoCoordsBlockingScheme analog: numeric grid cell — floor(value/cell)
    * as the key (the reference rounds lat/lon to a grid; any numeric
    * banding has the same shape). */
  def gridKey(c: Column, cell: Double): Column =
    floor(c / cell).cast("long").cast("string")

  /** RandomBlockingScheme, made deterministic: pinned-LCG hash of the id
    * into `buckets` — reproducible across engines (the reference uses
    * Random; a pinned LCG keeps the oracle contract). */
  def randomKey(id: Column, buckets: Int = 100): Column =
    (pmod(lit(LcgMul) * id + lit(LcgAddA), lit(P)) % buckets).cast("string")

  /** (scheme, bkey, block_size) for a set of named key expressions. For
    * list schemes pass `explode(tokenKeys(...))` — one key per token.
    * Scans the input once per scheme; prefer [[blockingStatsOneScan]] when
    * the input is large. */
  def blockingStats(df: DataFrame, schemes: Seq[(String, Column)]): DataFrame =
    schemes.map { case (name, key) =>
      df.select(key.as("bkey"))
        .groupBy(col("bkey")).agg(count(lit(1)).as("block_size"))
        .select(lit(name).as("scheme"), col("bkey"), col("block_size"))
    }.reduce(_.unionByName(_))

  /** Materialized blocks (SURVEY §2 A16 — the reference's Block(key,
    * members) shape). The dedup hot path deliberately NEVER materializes
    * blocks (flat equi-joins keep nothing O(block) in memory); this exists
    * for reference API parity and block inspection. Members are sorted and
    * CAPPED at `maxMembers` per block to bound row size — the capped-keep
    * analog of the reference's recall-losing maxBlockSize drop (block_size
    * still reports the true size). */
  def groupBlocks(df: DataFrame, keyCol: Column, idCol: Column,
                  maxMembers: Int = 10000): DataFrame =
    df.select(keyCol.as("bkey"), idCol.as("member"))
      .groupBy(col("bkey"))
      .agg(count(lit(1)).as("block_size"),
        slice(sort_array(collect_list(col("member"))), 1, maxMembers).as("members"))

  /** Same output as [[blockingStats]], ONE scan: every scheme's keys are
    * packed into one (scheme, bkey) struct array per row and exploded —
    * at 100 TB the input is read once instead of once per scheme.
    * `scalar` schemes yield one key per row; `list` schemes an array. */
  def blockingStatsOneScan(df: DataFrame,
                           scalar: Seq[(String, Column)],
                           list: Seq[(String, Column)] = Nil): DataFrame = {
    val scalarArr = array(scalar.map { case (n, k) =>
      struct(lit(n).as("scheme"), k.cast("string").as("bkey")) }: _*)
    val listArrs = list.map { case (n, ks) =>
      // a null list column would make the final concat null and explode
      // would then drop the row's OTHER schemes' keys too — guard each
      // list scheme with an empty array
      coalesce(
        transform(ks, k => struct(lit(n).as("scheme"), k.cast("string").as("bkey"))),
        array().cast("array<struct<scheme:string,bkey:string>>")) }
    val all = (scalarArr +: listArrs).reduce(concat(_, _))
    df.select(explode(all).as("sk"))
      .select(col("sk.scheme").as("scheme"), col("sk.bkey").as("bkey"))
      .groupBy("scheme", "bkey").agg(count(lit(1)).as("block_size"))
  }
}
