package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import scala.collection.mutable
import org.apache.spark.sql.SparkSession
import org.apache.spark.scheduler._

/** Command-line options of one benchmark run. Unknown flags, workloads and
  * malformed values fail the run before any work starts. */
final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
                      slots: Int, work: File, data: File, launchEpochNanos: Long,
                      queries: Option[Seq[String]], n: Option[Long],
                      reference: Option[File], failOps: Set[String],
                      captureReference: Option[File])

object Opts {
  val Workloads = Seq("ops_suite", "dedup_full")
  private val Known = Set("workload", "seed", "seconds", "trace", "slots", "work", "data",
    "launch-epoch-ns", "queries", "n", "reference", "fail-op", "capture-reference")

  def parse(args: Array[String]): Opts = {
    require(args.length % 2 == 0, s"expected --flag value pairs, got: ${args.mkString(" ")}")
    val kv = args.grouped(2).map { case Array(k, v) =>
      require(k.startsWith("--") && Known(k.drop(2)), s"unknown option '$k'")
      k.drop(2) -> v
    }.toMap
    def need(k: String): String = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val workload = need("workload")
    require(Workloads.contains(workload),
      s"unknown workload '$workload' (known: ${Workloads.mkString(", ")})")
    val trace = need("trace") match {
      case "0" => false
      case "1" => true
      case t => throw new IllegalArgumentException(s"--trace must be 0 or 1, got '$t'")
    }
    Opts(workload, need("seed").toLong, need("seconds").toDouble, trace,
      need("slots").toInt, new File(need("work")), new File(need("data")),
      need("launch-epoch-ns").toLong,
      kv.get("queries").map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq),
      kv.get("n").map(_.toLong), kv.get("reference").map(new File(_)),
      kv.get("fail-op").map(_.split(",").map(_.trim).toSet).getOrElse(Set.empty),
      kv.get("capture-reference").map(new File(_)))
  }
}

/** A measured value with its unit and the number of samples behind it. */
final case class Metric(value: Double, unit: String, samples: Int)

/** Everything one run reports. Ops that throw or fail their output check
  * are counted in `failed` and never enter a timing. */
final class Report(val workload: String) {
  val endToEnd = mutable.LinkedHashMap.empty[String, Metric]
  /** End-to-end figures too noisy on a shared host to carry a bound. */
  val unbounded = mutable.LinkedHashMap.empty[String, Metric]
  val perLayer = mutable.LinkedHashMap.empty[String, Metric]
  val info = mutable.LinkedHashMap.empty[String, String] // name → JSON value
  val failures = mutable.ArrayBuffer.empty[String]
  var attempted = 0L

  def failed: Long = failures.size.toLong

  /** Runs one op, counting it as attempted; a throw is recorded as a
    * failure and yields None. */
  def attempt[T](label: String)(body: => T): Option[T] = {
    attempted += 1
    try Some(body) catch {
      case scala.util.control.NonFatal(e) =>
        failures += s"$label: ${e.toString.linesIterator.take(3).mkString(" | ")}"
        Log(s"FAILED $label: $e")
        None
    }
  }

  def json: String = {
    def metrics(m: mutable.LinkedHashMap[String, Metric]) = Json.obj(m.toSeq.map { case (k, v) =>
      k -> Json.obj(Seq("value" -> Json.num(v.value), "unit" -> Json.str(v.unit),
        "samples" -> v.samples.toString))
    })
    Json.obj(Seq(
      "workload" -> Json.str(workload),
      "correct" -> (failed == 0).toString,
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "failures" -> Json.arr(failures.toSeq.map(Json.str)),
      "end_to_end" -> metrics(endToEnd),
      "unbounded" -> metrics(unbounded),
      "per_layer" -> metrics(perLayer),
      "info" -> Json.obj(info.toSeq)))
  }
}

object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
  def obj(kv: Seq[(String, String)]): String = kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
}

/** Progress lines on stderr, stamped with seconds since the JVM started. */
object Log {
  private val start = ManagementFactory.getRuntimeMXBean.getStartTime
  def apply(msg: String): Unit =
    System.err.println(f"[perfbench +${(System.currentTimeMillis() - start) / 1e3}%.1fs] $msg")
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val m = s.length / 2
    if (s.length % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2
  }
}

/** Process-level probes read outside the timed calls. */
object Probes {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def cpuSeconds(): Double = os.getProcessCpuTime / 1e9

  /** Seconds the JIT compilers have spent so far. */
  def jitSeconds(): Double = ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3

  /** Heap in use after a full collection, in MiB. The first collection
    * lets Spark's ContextCleaner drop blocks of unreachable RDDs; the
    * second one, after it had time to do so, frees them. */
  def liveHeapMb(): Double = {
    System.gc()
    Thread.sleep(250)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Classes Spark's code generator has compiled so far (codegen cache misses). */
  def codegenCompiles(): Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  @volatile private var sink = 0L

  /** Host control: a fixed loop over memory bandwidth (8 sequential sweeps
    * of a 64 MiB array) and integer arithmetic, with no engine code. A run
    * whose control is slow ran on a slow host or JVM, not slow code. */
  def hostControlSeconds(): Double = {
    val a = new Array[Long](1 << 23)
    var i = 0
    while (i < a.length) { a(i) = i; i += 1 }
    val t0 = System.nanoTime()
    var acc = 0L
    var pass = 0
    while (pass < 8) {
      var j = 0
      while (j < a.length) { acc += a(j) ^ pass; j += 1 }
      pass += 1
    }
    var x = acc
    var k = 0
    while (k < 100000000) { x = x * 6364136223846793005L + 1442695040888963407L; k += 1 }
    sink ^= x
    (System.nanoTime() - t0) / 1e9
  }
}

/** Engine-side counters from task metrics (SQL metrics are not used: under
  * `localCheckpoint` their accumulators are unreliable). Jobs submitted
  * while the local property [[EngineMeter.TagKey]] is set are also counted
  * per tag. */
final class EngineMeter extends SparkListener {
  @volatile var jobs, stages, tasks = 0L
  @volatile var taskMs, taskCpuNs, gcMs, shuffleWriteBytes, shuffleReadBytes, spillBytes = 0L
  val jobsByTag = mutable.Map.empty[String, Long].withDefaultValue(0L)
  /** JVM-side work of the metered ops, added by the harness: JIT compiler
    * seconds and classes compiled by Spark's code generator. */
  var jitS = 0.0
  var codegenCompiles = 0L

  def addJvm(jit: Double, codegen: Long): Unit = { jitS += jit; codegenCompiles += codegen }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs += 1
    Option(e.properties).flatMap(p => Option(p.getProperty(EngineMeter.TagKey)))
      .foreach(t => jobsByTag.synchronized(jobsByTag(t) += 1))
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = stages += 1
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      taskMs += m.executorRunTime
      taskCpuNs += m.executorCpuTime
      gcMs += m.jvmGCTime
      shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  /** The engine metrics per timed op, over `ops` ops that took `wallS`. */
  def report(r: Report, ops: Int, wallS: Double, slots: Int, retainedRdds: Int): Unit = {
    val per = math.max(ops, 1).toDouble
    val mb = 1048576.0
    def put(name: String, v: Double, unit: String) = r.perLayer(name) = Metric(v, unit, ops)
    put("spark.jobs", jobs / per, "count")
    put("spark.stages", stages / per, "count")
    put("spark.tasks", tasks / per, "count")
    put("spark.slot_idle_frac", 1.0 - taskMs / 1e3 / (slots * wallS), "fraction")
    put("spark.task_s", taskMs / 1e3 / per, "s")
    put("spark.task_cpu_s", taskCpuNs / 1e9 / per, "s")
    put("spark.gc_s", gcMs / 1e3 / per, "s")
    put("spark.shuffle_write_mb", shuffleWriteBytes / mb / per, "MB")
    put("spark.shuffle_read_mb", shuffleReadBytes / mb / per, "MB")
    put("spark.spill_mb", spillBytes / mb / per, "MB")
    put("spark.retained_rdd_blocks", retainedRdds, "count")
    put("spark.codegen_compiles", codegenCompiles / per, "count")
    put("jvm.jit_s", jitS / per, "s")
  }
}

object EngineMeter {
  val TagKey = "perfbench.tag"
}

object Sessions {
  /** One session factory for every workload: `local[slots]`, shuffle
    * partitions = slots, and every scratch path inside the run's work dir. */
  def open(o: Opts): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${o.slots}]")
      .appName(s"perfbench-${o.workload}")
      .config("spark.sql.shuffle.partitions", o.slots.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", new File(o.work, "warehouse").getAbsolutePath)
      .config("spark.local.dir", new File(o.work, "spark-local").getAbsolutePath)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def close(s: SparkSession): Unit = {
    s.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  /** Drops every block a finished op left behind: persisted and
    * checkpointed RDDs and cached tables. */
  def release(s: SparkSession): Unit = {
    s.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    s.catalog.clearCache()
  }

  def drain(s: SparkSession): Unit = org.apache.spark.ListenerBusDrain(s.sparkContext)

  def sizeBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).map(_.map(sizeBytes).sum).getOrElse(0L)
    else f.length()
}
