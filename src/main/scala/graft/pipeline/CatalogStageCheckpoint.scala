package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** How a finished pipeline stage is materialized (checkpoint, catalog
  * table, or not at all — see ImageDedupPipeline.runDirect). */
trait StageStore {
  def stage(name: String)(compute: => DataFrame): DataFrame
  /** Whether `stage(name)` would serve a completed snapshot without forcing
    * its compute. Default false — ephemeral stores recompute always. */
  def isDone(name: String): Boolean = false
  /** Whether the committed stage is persisted hash-bucketed on its join
    * key, i.e. `stage(name)` serves a scan whose outputPartitioning lets
    * key-joins/aggs skip their Exchange. Default false — only bucket-aware
    * catalog stores ever answer true. */
  def isBucketed(name: String): Boolean = false
  /** Delete a committed stage's snapshot (storage hygiene — e.g. pruning
    * superseded corpus generations). Durable stores implement it; the
    * default fails loudly rather than silently pretending to free space. */
  def dropStage(name: String): Unit =
    throw new UnsupportedOperationException(s"this store cannot drop stage '$name'")
}

/** Catalog-table stage checkpointing through the DataFrameWriterV2 path —
  * the code a real deployment points at an Iceberg catalog:
  *
  * {{{
  *   spark.sql.catalog.lake = org.apache.iceberg.spark.SparkCatalog
  *   new CatalogStageCheckpoint(spark, "lake.ck", format = "iceberg")
  * }}}
  *
  * and each completed stage becomes a table whose Iceberg snapshot is the
  * resume point. No Iceberg runtime jar ships in /opt/spark/jars (documented
  * env constraint, SURVEY §2 B1/B12), so tests run the IDENTICAL
  * writeTo / tableExists / read-back flow against the built-in session
  * catalog with parquet tables — only the catalog name and `format` differ
  * on a real cluster.
  *
  * Stage commit protocol: `writeTo(...).create()` is atomic at the catalog
  * level (the table only becomes visible complete — Iceberg: one snapshot;
  * session catalog: metastore entry after files land), so `tableExists` is
  * the resume predicate and a half-written stage is recomputed. Lineage
  * metrics land in `<stage>__metrics` tables; the run manifest is itself a
  * catalog table (`_manifest`), appended once per completed stage.
  */
/** @param bucketSpec stage name → (bucket key column, bucket count) for
  *   stages that should persist hash-bucketed (e.g. the incremental corpus
  *   signature tables — [[graft.pipeline.IncrementalImageDedup.bucketSpec]]).
  *   Bucketed stages go through [[Bucketing.writeBucketed]] (the V1
  *   `bucketBy(...).sortBy(...)` writer, the session catalog's bucket
  *   metadata path); an Iceberg deployment
  *   expresses the same layout as `partitionedBy(bucket(n, col))` on the
  *   writeTo path. Reads of a bucketed stage expose
  *   HashPartitioning(key, n), so downstream key-joins/aggs skip their
  *   corpus-side Exchange ([[StageStore.isBucketed]]). */
class CatalogStageCheckpoint(spark: SparkSession, namespace: String,
                             format: String = "parquet",
                             location: Option[String] = None,
                             bucketSpec: String => Option[(String, Int)] = _ => None)
    extends StageStore {

  private val loc = location.map(l => s" LOCATION '$l'").getOrElse("")
  spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $namespace$loc")

  private def tbl(name: String): String = s"$namespace.$name"
  private val manifestTbl = tbl("_manifest")

  override def isDone(name: String): Boolean = spark.catalog.tableExists(tbl(name))

  // If a stage landed through a store WITHOUT the spec (plain table) and
  // is later probed through one WITH it, this over-reports — harmless:
  // leftBucketed consumers only lose the exchange-elision (EnsureRequirements
  // re-inserts any exchange the actual scan partitioning doesn't satisfy);
  // results are unaffected. Single-writer stores keep one spec per
  // namespace, so the situation is a migration corner, not a steady state.
  override def isBucketed(name: String): Boolean =
    bucketSpec(name).isDefined && isDone(name)

  /** Drops the stage table and its metrics table; the manifest keeps the
    * historical commit row (isDone turns false with the table gone, so a
    * later re-stage recomputes and appends a fresh commit row). */
  override def dropStage(name: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS ${tbl(name)}")
    spark.sql(s"DROP TABLE IF EXISTS ${tbl(s"${name}__metrics")}")
  }

  override def stage(name: String)(compute: => DataFrame): DataFrame = {
    if (isDone(name)) {
      val out = spark.table(tbl(name))
      // The stage table create() is the atomic commit; a crash between it
      // and the metrics/manifest writes would otherwise leave those missing
      // forever (isDone is already true on every later resume) — backfill
      // them from the committed table here. wall_ms = -1 marks a backfilled
      // row (the original compute time is unknowable after the crash).
      if (!manifestHas(name)) {
        writeMetricsIfMissing(name, out)
        appendManifest(name, out.count(), wallMs = -1L)
      }
      out
    } else {
      val t0 = System.nanoTime()
      bucketSpec(name) match {
        case Some((key, n)) => Bucketing.writeBucketed(compute, tbl(name), key, n, format)
        case None =>
          compute.writeTo(tbl(name)).using(format).create()
      }
      val out = spark.table(tbl(name))
      writeMetricsIfMissing(name, out)
      val rows = out.count()
      val wallMs = (System.nanoTime() - t0) / 1000000
      appendManifest(name, rows, wallMs)
      out
    }
  }

  private def writeMetricsIfMissing(name: String, out: DataFrame): Unit =
    if (!spark.catalog.tableExists(tbl(s"${name}__metrics"))) {
      val metrics = out
        .groupBy(spark_partition_id().cast("long").as("partition_id"))
        .agg(count(lit(1)).as("rows"))
        .select(lit(name).as("stage"), col("partition_id"), col("rows"))
      metrics.writeTo(tbl(s"${name}__metrics")).using(format).create()
    }

  private def manifestHas(name: String): Boolean =
    spark.catalog.tableExists(manifestTbl) &&
      !spark.table(manifestTbl).where(col("stage") === name).isEmpty

  private def appendManifest(name: String, rows: Long, wallMs: Long): Unit = {
    import spark.implicits._
    // seq carries the commit order explicitly — a parquet read-back has no
    // row-order guarantee. Single-writer protocol (one driver owns a run's
    // namespace), so count-at-append is a valid monotone sequence.
    val seq = if (spark.catalog.tableExists(manifestTbl))
      spark.table(manifestTbl).count() else 0L
    val row = Seq((seq, name, rows, wallMs)).toDF("seq", "stage", "rows", "wall_ms")
    if (spark.catalog.tableExists(manifestTbl)) {
      // v2 catalogs (Iceberg) append through writeTo; the built-in session
      // catalog exposes v1 tables, where insertInto is the append path
      try row.writeTo(manifestTbl).append()
      catch {
        case _: org.apache.spark.sql.AnalysisException =>
          row.write.mode("append").insertInto(manifestTbl)
      }
    } else row.writeTo(manifestTbl).using(format).create()
  }

  /** Completed stages in commit order: (stage, rows, wall_ms). */
  def manifest(): Seq[(String, Long, Long)] =
    if (!spark.catalog.tableExists(manifestTbl)) Nil
    else spark.table(manifestTbl).orderBy(col("seq")).collect()
      .map(r => (r.getString(1), r.getLong(2), r.getLong(3))).toSeq
}
