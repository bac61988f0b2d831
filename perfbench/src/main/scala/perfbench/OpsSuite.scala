package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.MapType

/** Workload `ops_suite`: `graft.SparkEntry.queries` over the fixed sf0.001
  * tables, each written to the noop sink, in one long-lived session.
  * Set-up checks every query's output against the reference fingerprints
  * (which also warms it up); the timed window then runs whole passes over
  * the queries, pass-major, and every metric is a per-query median across
  * passes. */
object OpsSuite {

  /** Queries timed by default: a sample of the suite stratified by
    * measured per-query time, in proportion to each stratum's share of the
    * 75 queries (perfbench/README.md gives the measurement and the share
    * of the suite's time this set reproduces). Heavy kernels, >= 1.3 s: 1
    * of 11. Middle, 0.5-1.3 s: 2 of 23. Floor, < 0.5 s: 5 of 41. Within a
    * stratum the queries an open ROADMAP item targets come first: the q72,
    * q27 and q63 kernels, the q68 as-of join, the AnnSearch and Sampling
    * driver probes of q72 and q59, the `mapOnce` of q48; then plain shapes
    * at other ranks of the floor. */
  val Default: Seq[String] = Seq(
    "q72_pq_ann_topk",
    "q27_suffix_array_pairs", "q63_dedup_spans",
    "q68_asof_join", "q59_temperature_mix", "q31_ann_lsh_topk", "q09_exact_dedup",
    "q48_pii_scrub")

  def names(o: Opts): Seq[String] = o.queries match {
    case Some(Seq("all")) => graft.SparkEntry.queries.keys.toSeq.sorted
    case Some(qs) => qs
    case None => Default
  }

  /** Row count plus an order-insensitive hash of every column: the sum of
    * per-row xxhash64 values, widened so it cannot overflow. */
  def fingerprint(df: DataFrame): String = {
    val cols: Seq[Column] = df.schema.fields.toSeq.sortBy(_.name).map { f =>
      val c = col("`" + f.name.replace("`", "``") + "`")
      f.dataType match {
        case _: MapType => array_sort(map_entries(c)) // maps are not hashable
        case _ => c
      }
    }
    val row = df.select(xxhash64(cols: _*).cast("decimal(38,0)").as("h"))
      .agg(count(lit(1)), sum(col("h"))).head()
    val total = Option(row.getDecimal(1)).map(_.toPlainString).getOrElse("0")
    s"${row.getLong(0)}:$total"
  }

  private def readReference(f: File): Map[String, String] =
    Files.readAllLines(f.toPath, UTF_8).asScala.filter(_.nonEmpty).map { line =>
      val Array(name, fp) = line.split("\t")
      name -> fp
    }.toMap

  def run(o: Opts, r: Report): Unit = {
    val all = graft.SparkEntry.queries
    val queries = names(o)
    queries.foreach(q => require(all.contains(q), s"unknown query '$q'"))
    val dir = new File(o.data, "sf0.001").getAbsolutePath
    val spark = Sessions.open(o)
    try {
      def op(q: String): DataFrame = {
        if (o.failOps(q)) throw new IllegalStateException(s"injected failure in $q")
        all(q)(spark, dir)
      }
      o.captureReference match {
        case Some(out) =>
          val lines = queries.map(q => s"$q\t${fingerprint(op(q))}")
          Files.write(out.toPath, lines.mkString("", "\n", "\n").getBytes(UTF_8))
          r.attempted += queries.size
        case None =>
          timed(o, r, spark, queries, op)
      }
    } finally Sessions.close(spark)
  }

  private def timed(o: Opts, r: Report, spark: SparkSession, queries: Seq[String],
                    op: String => DataFrame): Unit = {
    val ref = readReference(o.reference.getOrElse(sys.error("--reference is required")))
    // Output check, outside the timed passes; it is also the only warm-up:
    // the JIT keeps compiling in every pass anyway, and a further untimed
    // pass would not fit the time budget of a run.
    val checked = queries.filter { q =>
      r.attempt(s"$q/check") {
        val got = fingerprint(op(q))
        val want = ref.getOrElse(q, sys.error(s"no reference fingerprint for $q"))
        if (got != want) throw new AssertionError(s"fingerprint $got, reference $want")
      }.isDefined
    }
    Log(s"checked ${checked.size} of ${queries.size} queries")

    val setupS = (Clock.epochNanos() - o.launchEpochNanos) / 1e9
    val sc = spark.sparkContext
    val meter = new EngineMeter
    final case class Pass(wall: Double, cpu: Double, heapMb: Double,
                          construct: Map[String, Double], exec: Map[String, Double])
    val plain, traced = mutable.ArrayBuffer.empty[Pass]
    var retained = 0
    Window.run(o.seconds, Window.MinReps) { i =>
      val isTraced = o.trace && i % 2 == 1
      if (isTraced) sc.addSparkListener(meter)
      val construct, exec = mutable.Map.empty[String, Double]
      val c0 = Probes.cpuSeconds()
      val j0 = Probes.jitSeconds()
      val g0 = Probes.codegenCompiles()
      val t0 = System.nanoTime()
      checked.foreach { q =>
        r.attempt(q) {
          val a = System.nanoTime()
          val df = op(q)
          val b = System.nanoTime()
          df.write.mode("overwrite").format("noop").save()
          val c = System.nanoTime()
          construct(q) = (b - a) / 1e9
          exec(q) = (c - b) / 1e9
        }
        if (isTraced) retained = math.max(retained, sc.getPersistentRDDs.size)
      }
      val wall = (System.nanoTime() - t0) / 1e9
      val cpu = Probes.cpuSeconds() - c0
      if (isTraced) {
        Sessions.drain(spark)
        sc.removeSparkListener(meter)
        meter.addJvm(Probes.jitSeconds() - j0, Probes.codegenCompiles() - g0)
      }
      val pass = Pass(wall, cpu, Probes.liveHeapMb(), construct.toMap, exec.toMap)
      Log(f"pass $i%d${if (isTraced) " traced" else ""}: $wall%.3f s, cpu $cpu%.2f s, jit ${Probes.jitSeconds() - j0}%.2f s, codegen ${Probes.codegenCompiles() - g0}")
      (if (isTraced) traced else plain) += pass
    }

    // A query that failed in any pass is left out of every timing.
    val timedQs = checked.filter(q => (plain ++ traced).forall(_.exec.contains(q)))
    def perQuery(ps: Seq[Pass], part: Pass => Map[String, Double]): Map[String, Double] =
      timedQs.map(q => q -> Stats.median(ps.map(p => part(p)(q)))).toMap
    def wallOf(p: Pass) = p.construct.map { case (q, c) => q -> (c + p.exec(q)) }
    val med = perQuery(plain.toSeq, wallOf)
    val n = plain.size
    r.endToEnd("setup_s") = Metric(setupS, "s", 1)
    if (med.nonEmpty) {
      r.endToEnd("pass_s") = Metric(med.values.sum, "s", n)
      r.endToEnd("op_p50_s") = Metric(Stats.median(med.values.toSeq), "s", n * med.size)
    }
    r.unbounded("cpu_s") = Metric(Stats.median(plain.map(_.cpu).toSeq), "s", n)
    val heapPasses = plain.take(Window.MinReps)
    r.endToEnd("live_heap_peak_mb") = Metric(heapPasses.map(_.heapMb).max, "MB", heapPasses.size)
    r.info("queries") = timedQs.size.toString

    if (o.trace && med.nonEmpty) {
      val tq = perQuery(traced.toSeq, wallOf)
      val k = traced.size
      tq.foreach { case (q, s) => r.perLayer(s"query.${q}_s") = Metric(s, "s", k) }
      r.perLayer("ops.construct_s") = Metric(perQuery(traced.toSeq, _.construct).values.sum, "s", k)
      r.perLayer("ops.exec_s") = Metric(perQuery(traced.toSeq, _.exec).values.sum, "s", k)
      val tracedWall = Stats.median(traced.map(_.wall).toSeq)
      r.perLayer("trace.overhead_frac") =
        Metric(tracedWall / Stats.median(plain.map(_.wall).toSeq) - 1, "fraction", k + n)
      r.info("trace.unattributed_frac") = Json.num(1 - tq.values.sum / tracedWall)
      meter.report(r, k, traced.map(_.wall).sum, o.slots, retained)
    }
  }
}

object Clock {
  def epochNanos(): Long = {
    val now = java.time.Instant.now()
    now.getEpochSecond * 1000000000L + now.getNano
  }
}

object Window {
  /** The fewest timed ops a run makes. The live heap grows by a few MB with
    * every op, so `live_heap_peak_mb` is read over this many ops only: a
    * faster program that fits more ops into the window is not charged for
    * the extra ones. */
  val MinReps = 3

  /** Calls `body(i)` for i = 0, 1, ... until `seconds` have passed since the
    * first call and at least `minReps` calls have been made. */
  def run(seconds: Double, minReps: Int)(body: Int => Unit): Unit = {
    val t0 = System.nanoTime()
    var i = 0
    while (i < minReps || (System.nanoTime() - t0) / 1e9 < seconds) {
      body(i)
      i += 1
    }
  }
}
