package journeybench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One run of one journey workload: set up, measure for a fixed wall time,
  * check every output, and write the result object to `--out`.
  *
  *   --workload upload_churn|knn_batch --seed N --seconds S
  *   --trace 0|1 --work DIR --out FILE
  *
  * `--trace 0` measures the public routes as a user calls them and reports
  * the end-to-end metrics; `--trace 1` drives the same calls through
  * [[Tracer]] spans and reports the per-layer metrics. */
object Journey {

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      work: String, out: String)

  def main(argv: Array[String]): Unit = {
    val kv = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def arg(k: String) = kv.getOrElse(k, sys.error(s"missing --$k"))
    val a = Args(arg("workload"), arg("seed").toLong, arg("seconds").toDouble,
      arg("trace") == "1", arg("work"), arg("out"))
    val cpus = Runtime.getRuntime.availableProcessors()
    val extStart = Host.externalBusyCores()
    val spark = session(cpus, a.work)
    val run = new Run(a)
    run.mark("session")
    val extra =
      try {
        a.workload match {
          case "upload_churn" => Workloads.uploadChurn(spark, run)
          case "knn_batch" => Workloads.knnBatch(spark, run)
          case w => sys.error(s"unknown workload $w")
        }
      } finally spark.streams.active.foreach(_.stop())
    run.mark("workload")
    val heapFinalMb = Host.heapUsedMbAfterGc()
    val confs = Seq("spark.master", "spark.sql.shuffle.partitions", "spark.sql.extensions",
      "spark.sql.adaptive.enabled", "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
      "spark.sql.sources.parallelPartitionDiscovery.threshold", "spark.sql.codegen.wholeStage")
      .map(k => k -> spark.conf.getOption(k).orNull).toMap
    spark.stop()
    val provenance = Map(
      "seed" -> a.seed, "workload" -> a.workload, "seconds" -> a.seconds, "trace" -> a.trace,
      "nproc" -> cpus, "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1L << 20),
      "spark_confs" -> confs, "external_busy_cores_start" -> extStart,
      "external_busy_cores_end" -> Host.externalBusyCores(),
      "java_version" -> System.getProperty("java.version"),
      "spark_version" -> spark.version)
    run.mark("stop")
    val result = run.result(extra, heapFinalMb, provenance)
    Files.write(Paths.get(a.out), Json.render(result).getBytes(StandardCharsets.UTF_8))
  }

  /** One local session over every core, configured as graft.Bench configures
    * its own; scratch and warehouse directories stay under the run's work dir. */
  private def session(cpus: Int, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("journeybench")
      .config("spark.sql.extensions", graft.core.GraftExtensions.Name)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}

/** Operation log and check ledger of one run. */
final class Run(val args: Journey.Args) {
  private var attempted = 0L
  private var failed = 0L
  private val problems = mutable.ArrayBuffer.empty[String]
  private val lat = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  val setupS = mutable.ArrayBuffer.empty[Double]
  val perLayer = mutable.LinkedHashMap.empty[String, Double]
  val report = mutable.LinkedHashMap.empty[String, Any]
  /** Latencies are logged only while measuring; set-up and warm-up
    * operations still count as attempted and can still fail the run. */
  var measuring = false
  private val born = System.nanoTime()
  private val phases = mutable.LinkedHashMap.empty[String, Double]
  private var heapMb = Double.NaN
  private var stepS: Seq[Double] = Nil

  /** Note the seconds since the harness started at the end of a phase. */
  def mark(phase: String): Unit = phases += phase -> elapsedS(born)

  /** Run one user-visible operation. An exception or a `Left` counts as a
    * failed operation and yields None. */
  def op[A](kind: String)(f: => Either[Any, A]): Option[A] = {
    attempted += 1
    val t0 = System.nanoTime()
    val r = try f catch { case e: Throwable => Left(e) }
    val ms = (System.nanoTime() - t0) / 1e6
    if (measuring) lat.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += ms
    r match {
      case Right(v) => Some(v)
      case Left(e) =>
        failed += 1
        problem(s"$kind failed: $e")
        None
    }
  }

  /** Run an untimed set-up or check operation; an exception fails it. */
  def step[A](what: String)(f: => A): Option[A] = {
    attempted += 1
    try Some(f) catch { case e: Throwable => failed += 1; problem(s"$what: $e"); None }
  }

  def check(ok: Boolean, what: => String): Unit = if (!ok) problem(what)

  def problem(what: String): Unit = if (problems.size < 50) problems += what else ()

  def latencies(kind: String): Seq[Double] = lat.get(kind).map(_.toSeq).getOrElse(Nil)

  def timedSetup[A](f: => A): A = {
    val t0 = System.nanoTime()
    val r = f
    setupS += (System.nanoTime() - t0) / 1e9
    r
  }

  def elapsedS(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Take the heap in use after a GC as the run's heap figure. */
  def readHeap(): Unit = heapMb = Host.heapUsedMbAfterGc()

  /** The measured window. `step` runs again while another step, judged by
    * the mean step so far, would end within half a step of `--seconds`, and
    * at least `minSteps` times. Unless the workload read the heap earlier,
    * the heap figure is taken as the window opens, when set-up and warm-up
    * work is all done, so it does not grow with the number of steps a
    * faster build fits in. Returns the step wall times. */
  def measure(minSteps: Int)(step: Int => Unit): Seq[Double] = {
    if (heapMb.isNaN) readHeap()
    mark("warm-up")
    measuring = true
    val walls = mutable.ArrayBuffer.empty[Double]
    val (cpu0, steal0) = (Host.selfNanos(), Host.stealJiffies())
    val t0 = System.nanoTime()
    while (walls.size < minSteps || elapsedS(t0) + Stats.mean(walls.toSeq) / 2 < args.seconds) {
      val s0 = System.nanoTime()
      step(walls.size)
      walls += elapsedS(s0)
    }
    val window = elapsedS(t0)
    measuring = false
    mark("measure")
    stepS = walls.toSeq
    // process CPU per step and cores stolen by the hypervisor over the window
    report ++= Map("cpu_ms_per_step" -> (Host.selfNanos() - cpu0) / 1e6 / walls.size,
      "steal_cores" -> (Host.stealJiffies() - steal0) / Host.userHz / window)
    stepS
  }

  /** The result object: end-to-end metrics untraced, per-layer metrics
    * traced, and a report with per-operation latencies, stationarity,
    * checks and provenance either way. */
  def result(extra: Workloads.Extra, heapFinalMb: Double, provenance: Map[String, Any]): Map[String, Any] = {
    val stepP50 = extra.perStep.map { case (kind, n) => n * Stats.median(latencies(kind)) }.sum
    val metrics: Seq[(String, Double, String)] =
      if (!args.trace) Seq(
        ("setup_s", Stats.median(setupS.toSeq), "s"),
        ("step_p50_ms", stepP50, "ms"),
        ("heap_used_mb", heapMb, "MB"))
      else Layers.all.map { case (name, unit) => (name, perLayer.getOrElse(name, 0.0), unit) }
    val ops = lat.map { case (k, v) => k -> Stats.describe(v.toSeq) }.toMap
    val named = Seq(
      "chat_p50_ms" -> ops.get("chat").map(_("p50_ms")),
      "chat_tail_ms" -> ops.get("chat").map(_("tail_ms")),
      "upload_p50_ms" -> ops.get("upload").map(_("p50_ms")),
      "upload_tail_ms" -> ops.get("upload").map(_("tail_ms")),
      "delete_p50_ms" -> ops.get("delete").map(_("p50_ms")),
      "knn_pass_s" -> (if (args.workload == "knn_batch") Some(Stats.median(stepS)) else None),
      "ops_failed_ratio" -> Some(if (attempted == 0) 0.0 else failed.toDouble / attempted),
      "heap_used_mb" -> Some(heapMb),
      "heap_final_mb" -> Some(heapFinalMb),
      "store_bytes_per_user_byte" -> extra.storeBytesPerTextByte
    ).collect { case (k, Some(v)) => k -> v }.toMap
    Map(
      "correct" -> (failed == 0 && problems.isEmpty && attempted > 0),
      "attempted" -> math.max(attempted, 1L),
      "failed" -> (if (attempted == 0) 1L else failed),
      "metrics" -> metrics.map { case (n, v, u) => n -> Map("value" -> v, "unit" -> u) }.toMap,
      "problems" -> problems.toSeq,
      "report" -> (report.toMap ++ Map(
        "named" -> named,
        "setup_s_reps" -> setupS.toSeq,
        "step_s" -> stepS,
        "step_mean_ms" -> 1000 * Stats.mean(stepS),
        "phase_end_s" -> phases.toMap,
        "ops" -> ops,
        "stationarity" -> lat.map { case (k, v) => k -> Stats.quarters(v.toSeq) }.toMap,
        "provenance" -> provenance)))
  }
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) Double.NaN else xs.sum / xs.size

  /** Count, median, mean and the tail: the highest percentile with at least
    * ten samples beyond it (the 11th-largest sample), with that percentile
    * and the sample count beside it; no tail below 11 samples. */
  def describe(xs: Seq[Double]): Map[String, Any] = {
    val s = xs.sorted
    val n = s.size
    val tail =
      if (n < 11) Map("tail_ms" -> None, "tail_pct" -> None)
      else Map("tail_ms" -> Some(s(n - 11)), "tail_pct" -> Some(100.0 * (n - 10) / n))
    Map("n" -> n, "p50_ms" -> median(xs), "mean_ms" -> mean(xs)) ++ tail
  }

  /** Medians of the first and the last quarter of a series, in run order,
    * and their ratio: a drift the set-up did not settle shows as a ratio
    * away from 1. */
  def quarters(xs: Seq[Double]): Map[String, Any] = {
    val q = math.max(1, xs.size / 4)
    val first = median(xs.take(q))
    val last = median(xs.takeRight(q))
    Map("first_quarter_p50_ms" -> first, "last_quarter_p50_ms" -> last, "ratio" -> last / first)
  }
}

/** Host contamination, computed as graft.Bench.externalBusyCores does: busy
  * jiffies of every core minus this process's own CPU time, per second of a
  * short window. A quiet host reads near 0. */
object Host {
  lazy val userHz: Double =
    try {
      val p = new ProcessBuilder("getconf", "CLK_TCK").start()
      val v = new String(p.getInputStream.readAllBytes()).trim.toDouble
      p.waitFor()
      if (v > 0) v else 100.0
    } catch { case _: Throwable => 100.0 }

  /** Fields of the aggregate `cpu` line of /proc/stat, in jiffies. */
  private def cpuJiffies(fields: Seq[Int]): Long =
    try {
      val f = scala.io.Source.fromFile("/proc/stat")
      try {
        val c = f.getLines().next().trim.split("\\s+")
        fields.map(i => if (i < c.length) c(i).toLong else 0L).sum
      } finally f.close()
    } catch { case _: Throwable => -1L }

  // user nice system irq softirq steal: everything but idle and iowait
  private def busyJiffies(): Long = cpuJiffies(Seq(1, 2, 3, 6, 7, 8))

  def stealJiffies(): Long = cpuJiffies(Seq(8))

  def selfNanos(): Long =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean => math.max(0L, os.getProcessCpuTime)
      case _ => 0L
    }

  def externalBusyCores(windowMs: Long = 500): Double = {
    val b0 = busyJiffies(); val s0 = selfNanos()
    if (b0 < 0) return -1.0
    Thread.sleep(windowMs)
    val busySec = (busyJiffies() - b0) / userHz
    val selfSec = (selfNanos() - s0) / 1e9
    math.max(0.0, busySec - selfSec) / (windowMs / 1000.0)
  }

  def heapUsedMbAfterGc(): Double = {
    System.gc(); System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }
}

object Json {
  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => quote(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")
}
