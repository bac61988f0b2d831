package perfbench

import java.io.File
import scala.collection.mutable
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.images.SyntheticImages
import graft.pipeline.{ImageDedupPipeline, IncrementalImageDedup, StageCheckpoint, StageStore}

/** Workload `dedup_full`: the flagship image-dedup pipeline over `SyntheticImages.generate(spark, n, seed)`, materialised
  * to parquet during set-up. Every op runs in one long-lived SparkSession,
  * so Spark's code generator reuses the classes it compiled for earlier
  * runs (a fresh session per run recompiled about 90 of them every run, and
  * the JIT raced to compile them again). Each op releases every block it
  * left behind once it is checked, so blocks cannot pile up from one run to
  * the next. Its output is `localCheckpoint`ed inside the timing so checks
  * read it back cheaply.
  * The warm-up op's output passes `graft.Main`'s checks (pair recall,
  * pair precision, viral guard, row invariant); every timed op must then
  * reproduce its fingerprint. Traced runs add the incremental import
  * (`IncrementalImageDedup`) through a durable stage store. */
object Dedup {
  val DefaultN = 2000L

  val PipelineStages = Seq("s1_annotated", "s1_star_edges", "s2_shingles", "s3_lsh_pairs",
    "s4_substr_pairs", "s5_img_pairs", "s6_verified_edges", "s7_clusters")
  val CandidateStages = Seq("s3_lsh_pairs", "s4_substr_pairs", "s5_img_pairs", "s6_verified_edges")

  /** What one op cost: wall and process CPU seconds, heap after a full GC,
    * and the RDDs the session still had persisted when it finished. */
  final case class Timing(wall: Double, cpu: Double, heapMb: Double, retained: Int)

  // ---- shared plumbing

  private def inputPath(o: Opts) = new File(o.work, "input").getAbsolutePath

  private def materialiseInput(spark: SparkSession, o: Opts, n: Long): Unit =
    SyntheticImages.generate(spark, n, o.seed).toDF()
      .write.mode("overwrite").parquet(inputPath(o))

  /** `graft.Main`'s output checks; throws on the first that fails. */
  private def checkClusters(spark: SparkSession, out: DataFrame, input: DataFrame, n: Long): Unit = {
    val truth = SyntheticImages.truth(spark, n).toDF()
    val (recall, _, _) = graft.Main.pairRecall(out, truth)
    val (precision, _, _) = graft.Main.pairPrecision(out, truth)
    val viralMerged = out.join(
        input.where(col("caption") === "photo of a photo").select(col("image_id")), "image_id")
      .groupBy("cluster_id").count().where(col("count") > 1).count()
    val rows = out.count()
    if (recall != 1.0 || precision != 1.0 || viralMerged != 0 || rows != n)
      throw new AssertionError(s"recall=$recall precision=$precision " +
        s"viral_merged=$viralMerged rows=$rows (want 1.0/1.0/0/$n)")
  }

  /** Runs `body` as one op in `spark`: wall and process CPU time
    * cover `body` and the materialisation of its output only, and so does
    * `meter`, which listens to the timed part alone. `check` runs after
    * the timing; an op that throws or fails its check is counted as failed
    * and yields None. The blocks the op left are released in the end. */
  private def op(r: Report, spark: SparkSession, label: String, meter: Option[EngineMeter])
                (body: SparkSession => DataFrame)
                (check: (SparkSession, DataFrame) => Unit): Option[Timing] = {
    val sc = spark.sparkContext
    try r.attempt(label) {
      meter.foreach(sc.addSparkListener)
      val c0 = Probes.cpuSeconds()
      val j0 = Probes.jitSeconds()
      val g0 = Probes.codegenCompiles()
      val t0 = System.nanoTime()
      val (out, retained) = materialise(spark, body)
      val wall = (System.nanoTime() - t0) / 1e9
      val cpu = Probes.cpuSeconds() - c0
      meter.foreach { m =>
        Sessions.drain(spark)
        sc.removeSparkListener(m)
        m.addJvm(Probes.jitSeconds() - j0, Probes.codegenCompiles() - g0)
      }
      Log(f"$label: $wall%.3f s, cpu $cpu%.2f s, jit ${Probes.jitSeconds() - j0}%.2f s, codegen ${Probes.codegenCompiles() - g0}")
      check(spark, out)
      val heap = Probes.liveHeapMb()
      Log(f"$label checked, live heap $heap%.1f MB")
      Timing(wall, cpu, heap, retained)
    } finally Sessions.release(spark)
  }

  /** Runs `body` and checkpoints its output; also returns the number of
    * RDDs the program left persisted, read before the output's own
    * checkpoint. Its own frame holds the unmaterialised result, so that
    * the heap read after the op does not keep the program's intermediate
    * blocks reachable. */
  private def materialise(spark: SparkSession, body: SparkSession => DataFrame): (DataFrame, Int) = {
    val result = body(spark)
    val retained = spark.sparkContext.getPersistentRDDs.size
    (result.localCheckpoint(true), retained)
  }

  private def matches(expected: => String)(spark: SparkSession, out: DataFrame): Unit = {
    val got = OpsSuite.fingerprint(out)
    if (got != expected) throw new AssertionError(s"output fingerprint $got, warm-up gave $expected")
  }

  private def setupDone(o: Opts, r: Report): Unit =
    r.endToEnd("setup_s") = Metric((Clock.epochNanos() - o.launchEpochNanos) / 1e9, "s", 1)

  /** dedup_full has one kind of op, so its pass is one op: `pass_s` and
    * `op_p50_s` are the same median. */
  private def endToEnd(r: Report, ts: Seq[Timing]): Unit =
    if (ts.nonEmpty) {
      val wall = Metric(Stats.median(ts.map(_.wall)), "s", ts.size)
      r.endToEnd("pass_s") = wall
      r.endToEnd("op_p50_s") = wall
      r.unbounded("cpu_s") = Metric(Stats.median(ts.map(_.cpu)), "s", ts.size)
      val heapOps = ts.take(Window.MinReps)
      r.endToEnd("live_heap_peak_mb") = Metric(heapOps.map(_.heapMb).max, "MB", heapOps.size)
    }

  private def overhead(r: Report, plain: Seq[Timing], traced: Seq[Timing]): Unit =
    if (plain.nonEmpty && traced.nonEmpty)
      r.perLayer("trace.overhead_frac") = Metric(
        Stats.median(traced.map(_.wall)) / Stats.median(plain.map(_.wall)) - 1,
        "fraction", plain.size + traced.size)

  // ---- dedup_full

  def full(o: Opts, r: Report): Unit = {
    val n = o.n.getOrElse(DefaultN)
    val spark = Sessions.open(o)
    try runs(o, r, spark, n) finally Sessions.close(spark)
  }

  /** Set-up (the input and a checked cold run, the only warm-up: the
    * second run is still about a third slower than the ones after it, which
    * level off, and the median of three timed runs leaves it out), then
    * the timed window of full runs, then (traced runs) the imports, all in
    * `spark`. */
  private def runs(o: Opts, r: Report, spark: SparkSession, n: Long): Unit = {
    materialiseInput(spark, o, n)
    Log(s"input of $n rows materialised")
    var expected = ""
    def runDirect(s: SparkSession) = ImageDedupPipeline.runDirect(s, s.read.parquet(inputPath(o)))
    op(r, spark, "full/warmup", None)(runDirect) { (s, out) =>
      checkClusters(s, out, s.read.parquet(inputPath(o)), n)
      expected = OpsSuite.fingerprint(out)
    }
    // a traced run compares its traced and plain runs past the second run
    if (o.trace) op(r, spark, "full/warmup", None)(runDirect)(matches(expected))
    setupDone(o, r)

    val meter = new EngineMeter
    val plain, traced = mutable.ArrayBuffer.empty[Timing]
    val stageTimes = mutable.ArrayBuffer.empty[StageMeter]
    Window.run(o.seconds, if (o.trace) 2 else Window.MinReps) { i =>
      if (o.trace && i % 2 == 1) {
        val store = new StageMeter
        op(r, spark, "full/traced", Some(meter)) { s =>
          store.attach(s)
          ImageDedupPipeline.run(s, s.read.parquet(inputPath(o)), store)
        } { (s, out) => store.countRows(); matches(expected)(s, out) }.foreach { t =>
          traced += t
          stageTimes += store
        }
      } else {
        op(r, spark, "full", None)(runDirect)(
          matches(expected)).foreach(plain += _)
      }
    }
    endToEnd(r, plain.toSeq)
    r.info("n") = n.toString
    r.endToEnd.get("pass_s").foreach(p => r.info("images_per_s") = Json.num(n / p.value))

    if (o.trace && traced.nonEmpty) {
      val k = traced.size
      PipelineStages.foreach { s =>
        r.perLayer(s"stage.${s}_s") = Metric(Stats.median(stageTimes.map(_.seconds(s)).toSeq), "s", k)
      }
      CandidateStages.foreach { s =>
        r.perLayer(s"stage.${s}_rows") = Metric(Stats.median(stageTimes.map(_.rows(s).toDouble).toSeq), "count", k)
      }
      r.perLayer("stage.s7_jobs") = Metric(Stats.median(stageTimes.map(st =>
        meter.jobsByTag(s"s7_clusters#${st.id}").toDouble).toSeq), "count", k)
      val stageSum = PipelineStages.map(s => Stats.median(stageTimes.map(_.seconds(s)).toSeq)).sum
      r.info("trace.unattributed_frac") = Json.num(1 - stageSum / Stats.median(traced.map(_.wall).toSeq))
      overhead(r, plain.toSeq, traced.toSeq)
      // retained RDDs from the plain runs: the metering store checkpoints every stage
      meter.report(r, k, traced.map(_.wall).sum, o.slots, plain.map(_.retained).maxOption.getOrElse(0))
    }
    if (o.trace) importLayer(o, r, spark, n)
  }

  /** The metering store of traced full runs: `runDirect`'s reuse policy,
    * except that every top-level stage is materialised as it is called,
    * so its wall time can be read; the rows of candidate stages are
    * counted after the timed op, by [[countRows]]. Stages nested inside
    * another (connected components' periodic edge commits) count towards
    * the enclosing stage. */
  final class StageMeter extends StageStore {
    val seconds = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    val rows = mutable.Map.empty[String, Long].withDefaultValue(0L)
    private val candidates = mutable.Map.empty[String, DataFrame]
    val id: Int = StageMeter.nextId()
    private var spark: SparkSession = _
    private var depth = 0

    def attach(s: SparkSession): Unit = spark = s

    def stage(name: String)(compute: => DataFrame): DataFrame =
      if (depth > 0) compute.localCheckpoint(false)
      else {
        val sc = spark.sparkContext
        val t0 = System.nanoTime()
        depth += 1
        sc.setLocalProperty(EngineMeter.TagKey, s"$name#$id")
        val df = try compute.localCheckpoint(true) finally {
          sc.setLocalProperty(EngineMeter.TagKey, null)
          depth -= 1
        }
        seconds(name) += (System.nanoTime() - t0) / 1e9
        if (CandidateStages.contains(name)) candidates(name) = df
        df
      }

    def countRows(): Unit = candidates.foreach { case (name, df) => rows(name) = df.count() }
  }

  object StageMeter {
    private var ids = 0
    def nextId(): Int = { ids += 1; ids }
  }

  // ---- the incremental import, traced runs only

  /** IncrementalBench's 5% delta: the exact duplicate in every 20-id block. */
  private def isDelta: Column = expr("cast(substring(image_id, 5) as bigint)") % 20 === 19

  /** Imports the delta into the clustered corpus through a durable
    * `StageCheckpoint`, twice: a cold import into an empty store, then a
    * warm one that reuses the corpus artifacts the cold one staged. Both
    * outputs must pass `graft.Main`'s checks. */
  private def importLayer(o: Opts, r: Report, spark: SparkSession, n: Long): Unit = {
    val priorPath = new File(o.work, "prior_clusters").getAbsolutePath
    val storeDir = new File(o.work, "store")
    // the prior clustering of the corpus, as yesterday's run left it
    try ImageDedupPipeline.runDirect(spark, spark.read.parquet(inputPath(o)).where(!isDelta))
      .write.mode("overwrite").parquet(priorPath)
    finally Sessions.release(spark)

    graft.BenchUtil.deleteRecursively(storeDir)
    val store = new StoreMeter
    var expected = ""
    def importOp(importId: String)(check: (SparkSession, DataFrame) => Unit) =
      op(r, spark, s"import/$importId", None) { s =>
        val all = s.read.parquet(inputPath(o))
        IncrementalImageDedup.run(s, all.where(!isDelta), s.read.parquet(priorPath),
          all.where(isDelta), store.wrap(new StageCheckpoint(s, storeDir.getAbsolutePath)), importId)
      }(check)
    val cold = importOp("cold") { (s, out) =>
      checkClusters(s, out, s.read.parquet(inputPath(o)), n)
      expected = OpsSuite.fingerprint(out)
    }
    val warm = importOp("warm")(matches(expected))
    for (c <- cold; w <- warm) {
      r.perLayer("import.cold_s") = Metric(c.wall, "s", 1)
      r.perLayer("import.warm_s") = Metric(w.wall, "s", 1)
      r.perLayer("store.stages_written") = Metric(store.written, "count", 1)
      r.perLayer("store.stages_reused") = Metric(store.reused, "count", 1)
      r.perLayer("store.write_s") = Metric(store.writeSeconds, "s", 1)
      r.perLayer("store.bytes_written_mb") = Metric(Sessions.sizeBytes(storeDir) / 1048576.0, "MB", 1)
    }
  }

  /** Counts the stages a durable store writes and reuses, and the time
    * spent in writes (each write includes computing its stage). */
  final class StoreMeter {
    var written, reused = 0
    var writeSeconds = 0.0
    private var depth = 0 // a write nested in another one is timed by the outer

    def wrap(inner: StageStore): StageStore = new StageStore {
      def stage(name: String)(compute: => DataFrame): DataFrame =
        if (inner.isDone(name)) { reused += 1; inner.stage(name)(compute) }
        else {
          val t0 = System.nanoTime()
          depth += 1
          val df = try inner.stage(name)(compute) finally depth -= 1
          if (depth == 0) writeSeconds += (System.nanoTime() - t0) / 1e9
          written += 1
          df
        }
      override def isDone(name: String): Boolean = inner.isDone(name)
      override def isBucketed(name: String): Boolean = inner.isBucketed(name)
      override def dropStage(name: String): Unit = inner.dropStage(name)
    }
  }
}
