package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.Drain
import org.apache.spark.sql.SparkSession

/** One timed operation of a pass: what it was, how long it took, and the
  * commit version it produced (-1 when it is not a commit). */
final case class Op(kind: String, ms: Double, version: Long = -1L)

/** A workload as the measuring loop sees it. `pass` must do the same work
  * every time it is called, so passes of one seed repeat exactly. */
trait Workload {
  /** Work the program does before it can serve a pass (beyond the session). */
  def setup(spark: SparkSession): Unit
  /** Untimed preparation before each pass (outside its job group). */
  def prepare(spark: SparkSession): Unit = ()
  /** One fully materialized pass; it keeps its outputs for the checks. */
  def pass(spark: SparkSession, tr: Tracer, ops: mutable.Buffer[Op]): Unit
  /** Counts taken after each pass, outside its timing, as JSON fields. */
  def passStats(): Seq[(String, String)] = Nil
  /** Traced-only layer probes, run outside any pass. */
  def probes(spark: SparkSession, out: mutable.Map[String, Double]): Unit
  /** Checks material written after the last pass, as JSON fields. */
  def report(spark: SparkSession): Seq[(String, String)]
}

/** Measuring driver. Usage:
  * `perfbench.Main <workload> <inputDir> <workDir> <seconds> <trace 0|1> <setups>`.
  * Writes `<workDir>/result.json`; the Python front end checks it. */
object Main {

  val Cores = 4

  def session(workDir: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.ui.retainedJobs", "100000")
      .config("spark.ui.retainedStages", "100000")
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    graft.functions.VectorExpressions.register(s)
    s
  }

  def main(args: Array[String]): Unit = {
    val Array(name, inDir, workDir, secondsS, traceS, setupsS) = args
    val seconds = secondsS.toDouble
    val trace = traceS == "1"
    val wl: Workload = name match {
      case "immigration_etl" => new EtlWorkload(inDir, workDir)
      case "corpus_kernels" => new CorpusWorkload(inDir, workDir)
      case "tx_commits" => new TxWorkload(inDir, workDir)
    }

    // Set-up, repeated: session start plus the workload's own set-up.
    val setupS = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    for (i <- 1 to setupsS.toInt) {
      if (spark != null) { spark.stop(); System.gc() }
      val t0 = System.nanoTime()
      spark = session(workDir)
      wl.setup(spark)
      setupS += (System.nanoTime() - t0) / 1e9
    }
    val sc = spark.sparkContext

    val exec = new ExecListener
    val plan = new PlanListener
    if (trace) {
      sc.addSparkListener(exec)
      spark.listenerManager.register(plan)
    }

    val passes = mutable.ArrayBuffer.empty[String]
    var passNo = 0
    /** Runs one pass under its own job group and returns its wall seconds. */
    def onePass(traced: Boolean, record: Boolean): Double = {
      wl.prepare(spark)
      if (record) settle()
      val tr = new Tracer(traced)
      val ops = mutable.ArrayBuffer.empty[Op]
      PinSampler.sc = if (traced) Some(sc) else None
      val group = s"pass-$passNo"
      passNo += 1
      Drain(sc)
      exec.current = new ExecCounters
      plan.reset()
      sc.setJobGroup(group, group)
      val pinsBefore = Pins.mb(sc)
      val cpu0 = processCpuNs()
      val (busy0, steal0) = hostTicks()
      val t0 = System.nanoTime()
      tr.span("pass") { wl.pass(spark, tr, ops) }
      val wall = (System.nanoTime() - t0) / 1e9
      val cpu = (processCpuNs() - cpu0) / 1e9
      val (busy1, steal1) = hostTicks()
      val stolen = steal1 - steal0
      val stealShare = if (stolen > 0) stolen.toDouble / (busy1 - busy0 + stolen) else 0.0
      sc.clearJobGroup()
      Drain(sc)
      val pinsAfterMb = Pins.mb(sc)
      val pinsAfterRdds = Pins.rdds(sc)
      Pins.clearAll(spark)
      val stats = wl.passStats()
      if (record) {
        val st = sc.statusTracker
        val jobIds = st.getJobIdsForGroup(group)
        val stageIds = jobIds.flatMap(j => st.getJobInfo(j).map(_.stageIds).getOrElse(Array.empty[Int]))
        val tasks = stageIds.flatMap(s => st.getStageInfo(s)).map(_.numTasks).sum
        val f = mutable.ArrayBuffer[(String, String)](
          "traced" -> traced.toString,
          "wall_s" -> Json.num(wall),
          "cpu_s" -> Json.num(cpu),
          "steal_share" -> Json.num(stealShare),
          "jobs" -> jobIds.length.toString,
          "stages" -> stageIds.length.toString,
          "tasks" -> tasks.toString,
          "pins_before_mb" -> Json.num(pinsBefore),
          "pins_after_mb" -> Json.num(pinsAfterMb),
          "pins_after_rdds" -> pinsAfterRdds.toString,
          "ops" -> Json.arr(ops.map(o => Json.obj(Seq(
            "kind" -> Json.str(o.kind), "ms" -> Json.num(o.ms),
            "version" -> o.version.toString))))) ++ stats
        if (traced) {
          val c = exec.current
          f ++= Seq(
            "spans" -> Json.arr(tr.spans.map(s => Json.obj(Seq(
              "id" -> s.id.toString, "parent" -> s.parent.toString,
              "name" -> Json.str(s.name), "ms" -> Json.num(s.ms))))),
            "self_ms" -> Json.obj(tr.selfMs.toSeq.sortBy(_._1)
              .map { case (k, v) => k -> Json.num(v) }),
            "exec" -> Json.obj(Seq(
              "jobs" -> c.jobs.toString, "stages" -> c.stages.toString,
              "tasks" -> c.tasks.toString,
              "task_busy_s" -> Json.num(c.taskBusyMs / 1e3),
              "task_cpu_s" -> Json.num(c.taskCpuNs / 1e9),
              "gc_s" -> Json.num(c.gcMs / 1e3),
              "shuffle_write_mb" -> Json.num(c.shuffleWriteBytes / 1048576.0),
              "shuffle_read_mb" -> Json.num(c.shuffleReadBytes / 1048576.0),
              "spill_mb" -> Json.num(c.spillBytes / 1048576.0),
              "input_mb" -> Json.num(c.inputBytes / 1048576.0),
              "output_mb" -> Json.num(c.outputBytes / 1048576.0),
              "slot_busy_ratio" -> Json.num(c.taskBusyMs / 1e3 / (wall * Cores)),
              "driver_idle_s" -> Json.num(wall - c.jobBusyNs / 1e9),
              "stage_skew_max" -> Json.num(c.stageSkewMax))),
            "plan" -> Json.obj(Seq(
              "executions" -> plan.executions.toString,
              "actions" -> Json.arr(plan.actions.map { case (f, ms) =>
                Json.obj(Seq("func" -> Json.str(f), "ms" -> Json.num(ms))) }),
              "analysis_ms" -> plan.analysisMs.toString,
              "optimization_ms" -> plan.optimizationMs.toString,
              "planning_ms" -> plan.planningMs.toString)),
            "pins_peak_mb" -> Json.num(
              (Seq(pinsBefore, pinsAfterMb) ++ PinSampler.samples).max))
        }
        passes += Json.obj(f.toSeq)
      }
      PinSampler.samples.clear()
      wall
    }

    // Cold pass: JIT, codegen and lazy set-up finish before timing.
    val coldS = onePass(traced = false, record = false)

    // Warm passes for `seconds`, at least two: the first warm pass still runs
    // 5-9% slower than the next, so a run that stopped after one pass when
    // the host was slow would read slower still. In trace mode, untraced and
    // then traced passes, each for half the time and at least one of each.
    val (budget, minPasses) = if (trace) (seconds / 2, 1) else (seconds, 2)
    def loop(traced: Boolean): Unit = {
      val t0 = System.nanoTime()
      var n = 0
      while (n < minPasses || (System.nanoTime() - t0) / 1e9 < budget) {
        onePass(traced, record = true)
        n += 1
      }
    }
    loop(traced = false)
    if (trace) loop(traced = true)

    val probes = mutable.LinkedHashMap.empty[String, Double]
    if (trace) wl.probes(spark, probes)

    val report = wl.report(spark)
    val rssMb = peakRssMb()
    val json = Json.obj(Seq(
      "workload" -> Json.str(name),
      "setup_s" -> Json.arr(setupS.map(Json.num)),
      "cold_s" -> Json.num(coldS),
      "passes" -> Json.arr(passes.toSeq),
      "probes" -> Json.obj(probes.toSeq.map { case (k, v) => k -> Json.num(v) }),
      "peak_rss_mb" -> Json.num(rssMb)) ++ report)
    Files.writeString(Paths.get(workDir, "result.json"), json)
    spark.stop()
  }

  /** Before a measured pass: collect the heap and let the JIT's queue drain
    * (compile time still for 300 ms, or 5 s at most), so a pass does not
    * pay for compilation and garbage that earlier work left behind. */
  def settle(): Unit = {
    System.gc()
    val jit = java.lang.management.ManagementFactory.getCompilationMXBean
    val deadline = System.nanoTime() + 5000000000L
    var last = jit.getTotalCompilationTime
    var quiet = false
    while (!quiet && System.nanoTime() < deadline) {
      Thread.sleep(300)
      val now = jit.getTotalCompilationTime
      quiet = now - last < 5
      last = now
    }
  }

  /** (busy, steal) clock ticks of all the VM's CPUs, from /proc/stat. Steal
    * is time a CPU had work but the hypervisor ran another tenant. */
  def hostTicks(): (Long, Long) = {
    val f = scala.io.Source.fromFile("/proc/stat")
    try {
      val t = f.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
      (t(0) + t(1) + t(2) + t(5) + t(6), t(7)) // user nice system irq softirq; steal
    } finally f.close()
  }

  /** CPU time of the whole JVM: driver, executor threads, JIT and GC. */
  def processCpuNs(): Long = java.lang.management.ManagementFactory
    .getOperatingSystemMXBean.asInstanceOf[com.sun.management.OperatingSystemMXBean]
    .getProcessCpuTime

  /** The JVM's high-water resident set (VmHWM). */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  def dirBytes(f: File): Long =
    if (f.isFile) f.length()
    else Option(f.listFiles()).map(_.map(dirBytes).sum).getOrElse(0L)
}

/** Samples the persisted footprint around each operation (traced passes). */
object PinSampler {
  var sc: Option[org.apache.spark.SparkContext] = None
  val samples = mutable.ArrayBuffer.empty[Double]
  def sample(): Unit = sc.foreach(c => samples += Pins.mb(c))
}

/** Minimal JSON rendering for the result file. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString
  def arr(xs: Iterable[String]): String = xs.mkString("[", ",", "]")
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
