package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.images.SyntheticImages
import graft.pipeline.{ImageDedupPipeline, IncrementalImageDedup, StageCheckpoint}

/** Measures the incremental-import claim: assigning a small delta into an
  * already-clustered corpus must beat a full re-run over corpus ∪ delta —
  * cold (corpus-side stages computed into a fresh durable store) and warm
  * (second import against the same store: corpus stages resumed, only
  * delta-dependent work runs). Incremental runs pay durable parquet stage
  * writes that the full runDirect does not — the comparison is conservative.
  *
  * Protocol hygiene: every measured phase runs in a FRESH SparkSession —
  * a shared JVM session accumulates localCheckpoint blocks from earlier
  * phases and was measured to slow later phases by up to 2×
  * (block-manager memory pressure), poisoning the comparison. The
  * prior corpus clustering is handed to the import phases as a parquet
  * table (reading it is part of the measured import, as in production).
  *
  * Delta selector (GRAFT_BENCH_DELTA_PCT): 10 → planted dups D2+D0 per
  * 20-id block (includes a delta-internal pair); 5 → D0 only; 1 → D0 from
  * every 5th block. All keep cross-side planted dups so recall exercises
  * the cross path.
  *
  * Usage: GRAFT_BENCH_N=200000 GRAFT_BENCH_DELTA_PCT=5 \
  *        tools/run_main.sh graft.IncrementalBench
  * Sessions come from [[BenchUtil.session]]. Prints one JSON line.
  */
object IncrementalBench {

  def main(args: Array[String]): Unit = {
    val n = sys.env.get("GRAFT_BENCH_N").map(_.toLong).getOrElse(200000L)
    val cores = BenchUtil.hostCores
    val deltaPct = sys.env.getOrElse("GRAFT_BENCH_DELTA_PCT", "10").toInt

    val inputPath = s"/tmp/graft_scaling_input_$n"
    if (!new java.io.File(s"$inputPath/_SUCCESS").exists()) {
      val s = BenchUtil.session("graft-incremental-bench")
      try SyntheticImages.generate(s, n).toDF()
        .write.mode("overwrite").parquet(inputPath)
      finally s.stop()
    }

    def isDelta(idNum: org.apache.spark.sql.Column) = deltaPct match {
      case 10 => idNum % 20 >= 18
      case 5  => idNum % 20 === 19
      case 1  => (idNum % 20 === 19) &&
        (expr("cast(substring(image_id, 5) as bigint) div 20") % 5 === 0)
      case p  => throw new IllegalArgumentException(s"unsupported delta pct $p")
    }
    def split(all: DataFrame): (DataFrame, DataFrame) = {
      val idNum = expr("cast(substring(image_id, 5) as bigint)")
      (all.where(!isDelta(idNum)), all.where(isDelta(idNum)))
    }

    /** Run `body` in a fresh session, return (wall of the timed part, result). */
    def phase[T](label: String)(body: SparkSession => T): T = {
      val spark = BenchUtil.session("graft-incremental-bench")
      try {
        val t0 = System.nanoTime()
        val out = body(spark)
        System.err.println(f"[inc-bench] $label%-10s ${(System.nanoTime() - t0) / 1e9}%.1f s")
        out
      } finally spark.stop()
    }

    // JIT warmup: one full run, discarded (own session)
    phase("warmup") { s => ImageDedupPipeline.runDirect(s, s.read.parquet(inputPath)).count() }

    val fullSec = phase("full") { s =>
      val t0 = System.nanoTime()
      ImageDedupPipeline.runDirect(s, s.read.parquet(inputPath)).count()
      (System.nanoTime() - t0) / 1e9
    }

    // prior state (untimed work, but its own session): yesterday's corpus
    // clustering, persisted where the import phases will read it
    val clustersPath = s"/tmp/graft_inc_bench_clusters_${n}_d$deltaPct"
    phase("prep") { s =>
      val (corpus, _) = split(s.read.parquet(inputPath))
      ImageDedupPipeline.runDirect(s, corpus)
        .write.mode("overwrite").parquet(clustersPath)
    }

    val ckptDir = s"/tmp/graft_inc_bench_${n}_d$deltaPct"
    BenchUtil.deleteRecursively(new java.io.File(ckptDir))
    def importPhase(label: String, importId: String): (Double, Long, Double) =
      phase(label) { s =>
        val (corpus, delta) = split(s.read.parquet(inputPath))
        val t0 = System.nanoTime()
        val out = IncrementalImageDedup.run(s, corpus,
            s.read.parquet(clustersPath), delta,
            new StageCheckpoint(s, ckptDir), importId)
          .localCheckpoint()
        out.count()
        val wall = (System.nanoTime() - t0) / 1e9
        val (recall, _, _) = Main.pairRecall(out, SyntheticImages.truth(s, n).toDF())
        (wall, delta.count(), recall)
      }

    val (coldSec, deltaRows, recallCold) = importPhase("inc-cold", "imp_cold")
    val (warmSec, _, recallWarm) = importPhase("inc-warm", "imp_warm")

    // optional: the daily-ingest STEADY STATE (GRAFT_BENCH_ABSORB=1,
    // requires delta_pct=10 so the delta splits into two disjoint days):
    // day-1 import (d1 = id%20==18) → absorb(d1) → day-2 import
    // (d2 = id%20==19) against the GROWN corpus and absorbed artifacts.
    // Measures what a production loop pays per day: the absorb itself
    // (delta-sized) and the next import (corpus restage avoided).
    //
    // GRAFT_BENCH_ABSORB_FIXED=<k> caps each day's delta at k rows (the
    // first k 20-id blocks' planted rows) INDEPENDENT of n — the absorb
    // corpus-size-invariance measurement: run n=500k and n=1M with the
    // same k and absorb_sec must not grow with the corpus (absorb stages
    // only delta artifacts; the prior copy-on-write absorb rewrote the
    // full corpus tables and scaled linearly in n). Rows beyond the cap in
    // day strata are simply excluded; recall is skipped in fixed mode (the
    // planted truth covers the excluded rows).
    val absorbJson = if (sys.env.get("GRAFT_BENCH_ABSORB").contains("1") && deltaPct == 10) {
      val fixedK = sys.env.get("GRAFT_BENCH_ABSORB_FIXED").map(_.toLong)
      val dir2 = s"/tmp/graft_inc_bench_absorb_$n"
      BenchUtil.deleteRecursively(new java.io.File(dir2))
      val out1Path = s"$dir2/out1_clusters"
      val idNum = expr("cast(substring(image_id, 5) as bigint)")
      def day(d: Long) = fixedK match {
        case Some(k) => (idNum % 20 === d) &&
          (expr("cast(substring(image_id, 5) as bigint) div 20") < k)
        case None    => idNum % 20 === d
      }
      val day1Sec = phase("seq-imp1") { s =>
        val all = s.read.parquet(inputPath)
        val t0 = System.nanoTime()
        IncrementalImageDedup.run(s, all.where(idNum % 20 < 18),
            s.read.parquet(clustersPath), all.where(day(18)),
            new StageCheckpoint(s, dir2), "sd1")
          .write.mode("overwrite").parquet(out1Path)
        (System.nanoTime() - t0) / 1e9
      }
      val absorbSec = phase("absorb") { s =>
        val t0 = System.nanoTime()
        IncrementalImageDedup.absorb(s, new StageCheckpoint(s, dir2), "sd1")
        (System.nanoTime() - t0) / 1e9
      }
      val (day2Sec, recall2) = phase("seq-imp2") { s =>
        val all = s.read.parquet(inputPath)
        val t0 = System.nanoTime()
        val out2 = IncrementalImageDedup.run(s,
            all.where(idNum % 20 < 18 || day(18)),
            s.read.parquet(out1Path), all.where(day(19)),
            new StageCheckpoint(s, dir2), "sd2")
          .localCheckpoint()
        out2.count()
        val wall = (System.nanoTime() - t0) / 1e9
        val r = if (fixedK.isDefined) -1.0
          else Main.pairRecall(out2, SyntheticImages.truth(s, n).toDF())._1
        (wall, r)
      }
      val fixedJson = fixedK.map(k => s""","fixed_delta_rows":$k""").getOrElse("")
      s""","absorb_loop":{"day1_sec":$day1Sec,"absorb_sec":$absorbSec,"day2_sec":$day2Sec,"recall_day2":$recall2$fixedJson}"""
    } else ""

    println(s"""{"bench":"incremental","n":$n,"delta_pct":$deltaPct,"delta_rows":$deltaRows,"cores":$cores,"full_sec":$fullSec,"inc_cold_sec":$coldSec,"inc_warm_sec":$warmSec,"speedup_cold":${fullSec / coldSec},"speedup_warm":${fullSec / warmSec},"recall_cold":$recallCold,"recall_warm":$recallWarm$absorbJson}""")
  }
}
