package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Bucketed-table persistence for co-located joins — the builder-prompt
  * "repartition/bucketing for co-located joins" technique made concrete.
  *
  * A table written with `bucketBy(n, key)` records its hash-partitioning in
  * the catalog; a later equi-join or aggregation on `key` between two
  * tables bucketed the same way reads both sides pre-partitioned and runs
  * WITHOUT a shuffle Exchange on either side (BucketingSpec pins this at
  * the physical-plan level). At 100 TB this is the difference between
  * re-shuffling the corpus on every join against its signature tables and
  * reading co-located buckets: the corpus-keyed artifacts
  * (bands/grams/chunks keyed by id, cluster tables keyed by image_id) are
  * the natural candidates.
  *
  * `bucketBy` requires the table catalog (`saveAsTable`) — the same
  * session-catalog stand-in as [[CatalogStageCheckpoint]]; on a real
  * deployment the catalog is Iceberg/Hive and the bucket spec travels with
  * the table metadata.
  */
object Bucketing {

  /** Persist `df` as catalog table `table` in `format`, bucketed AND
    * sorted by `key` into `buckets` buckets (sorting enables sort-merge
    * joins without the per-task sort). */
  def writeBucketed(df: DataFrame, table: String, key: String, buckets: Int,
                    format: String = "parquet"): Unit =
    df.write.bucketBy(buckets, key).sortBy(key)
      .mode("overwrite").format(format).saveAsTable(table)

  def read(spark: SparkSession, table: String): DataFrame = spark.table(table)
}
