package graft.perfbench

import java.lang.management.ManagementFactory
import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side. One run = one workload:
  *
  *  1. start a local[nproc] session (timed once);
  *  2. materialise the seeded inputs [[Main.SetupReps]] times, then run the
  *     workload's warm passes on inputs of their own (setup_s = session start
  *     + median materialisation + warm passes);
  *  3. run timed passes of the workload until `--seconds` have passed (at
  *     least [[Main.MinPasses]]). With `--trace 1` every second pass is
  *     traced (listeners registered, spans kept) and the run lasts twice as
  *     long, so the untraced passes of the same run give the tracing
  *     overhead;
  *  4. check the outputs against the pinned values, outside the timed region;
  *  5. write the result (metrics, check counts, a human-readable report) as
  *     JSON to `--out`, and the spans to `--trace-out`.
  *
  * `--pin <file>` instead computes the check values of every input window
  * and writes them as the pin file (no timing). `--train 1` only starts and
  * stops the session (the class-sharing archive's training run).
  */
object Main {
  val SetupReps = 3
  val MinPasses = 1
  /** Seeds are taken modulo this many input windows, each with pinned outputs. */
  val Windows = 16

  final case class Opts(workload: String, seed: Long, seconds: Double,
      trace: Boolean, work: String, data: String, pins: String, out: String,
      traceOut: String)

  def main(args: Array[String]): Unit = {
    require(args.length % 2 == 0, "arguments come as --name value pairs")
    val kv = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    def get(k: String) = kv.getOrElse(k, sys.error(s"missing --$k"))
    val work = get("work")
    val spark = session(work)
    try if (kv.contains("train")) () else kv.get("pin") match {
      case Some(pinOut) => pin(spark, get("workload"), work, get("data"), pinOut)
      case None =>
        val o = Opts(get("workload"), get("seed").toLong, get("seconds").toDouble,
          get("trace") == "1", work, get("data"), get("pins"), get("out"),
          get("trace-out"))
        run(spark, o)
    } finally spark.stop()
  }

  val nproc: Int = Runtime.getRuntime.availableProcessors

  /** Writes the result, pin and span files; Scala maps keep their order. */
  val json: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  private var sessionS = 0.0

  private def session(work: String): SparkSession = {
    val t0 = System.nanoTime()
    val s = SparkSession.builder()
      .master(s"local[$nproc]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s.range(1000).selectExpr("sum(id)").collect()
    sessionS = (System.nanoTime() - t0) / 1e9
    s
  }

  def workload(spark: SparkSession, name: String, window: Int, data: String): Workload =
    name match {
      case "extract" => new ExtractWorkload(spark, window)
      case "clean" => new CleanWorkload(spark, window)
      case "suite" => new SuiteWorkload(spark, data)
      case other => sys.error(s"unknown workload '$other' (extract|clean|suite)")
    }

  private def pin(spark: SparkSession, name: String, work: String, data: String,
      out: String): Unit = {
    val windows = if (workload(spark, name, 0, data).seeded) 0 until Windows else Seq(0)
    val values = windows.map { win =>
      val w = workload(spark, name, win, data)
      val dir = s"$work/pin$win"
      w.materialise(dir)
      val v = w.pinValues(dir)
      deleteTree(dir)
      win.toString -> v
    }
    val cfg = workload(spark, name, 0, data).config
    writeFile(out, json.writeValueAsString(mutable.LinkedHashMap[String, Any](
      "config" -> cfg, "windows" -> mutable.LinkedHashMap(values: _*))) + "\n")
  }

  // ---- host probes ----

  /** Stolen CPU-seconds so far, all vCPUs (/proc/stat, USER_HZ = 100). */
  def stolenCpuS(): Double = {
    val src = scala.io.Source.fromFile("/proc/stat")
    try src.getLines().find(_.startsWith("cpu ")).map { l =>
      val cols = l.trim.split("\\s+").drop(1)
      if (cols.length >= 8) cols(7).toDouble / 100.0 else 0.0
    }.getOrElse(0.0) finally src.close()
  }

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def processCpuS(): Double = os.getProcessCpuTime / 1e9

  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    finally src.close()
  }

  def median(xs: Iterable[Double]): Double = {
    val s = xs.toVector.sorted
    if (s.isEmpty) 0.0
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  /** Nearest-rank percentile. */
  def percentile(xs: Iterable[Double], p: Double): Double = {
    val s = xs.toVector.sorted
    if (s.isEmpty) 0.0 else s(math.max(0, math.ceil(p * s.length).toInt - 1))
  }

  def deleteTree(path: String): Unit = {
    val root = java.nio.file.Paths.get(path)
    if (java.nio.file.Files.exists(root)) {
      val s = java.nio.file.Files.walk(root)
      try s.sorted(java.util.Comparator.reverseOrder())
        .forEach(p => java.nio.file.Files.deleteIfExists(p))
      finally s.close()
    }
  }

  def writeFile(path: String, s: String): Unit =
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), s)

  // ---- the measured run ----

  final case class Pass(wallS: Double, cpuS: Double, stealS: Double, traced: Boolean)

  private def run(spark: SparkSession, o: Opts): Unit = {
    val seeded = workload(spark, o.workload, 0, o.data).seeded
    val window = if (seeded) Math.floorMod(o.seed, Windows.toLong).toInt else 0
    val tracer = new Tracer(o.trace, s"${o.workload}-${o.seed}-${System.currentTimeMillis()}")
    val w = workload(spark, o.workload, window, o.data)
    val checks = Pins.load(o.pins, o.workload, window, w.config)

    tracer.span("run") { runAttrs =>
      runAttrs ++= Seq("workload" -> o.workload, "seed" -> o.seed, "window" -> window)
      def timedS(body: => Unit): Double = {
        val t0 = System.nanoTime()
        body
        (System.nanoTime() - t0) / 1e9
      }
      val materialiseS = (0 until SetupReps).map { r =>
        if (r > 0) deleteTree(s"${o.work}/setup${r - 1}")
        timedS(tracer.span("materialise") { _ => w.materialise(s"${o.work}/setup$r") })
      }
      val inputs = s"${o.work}/setup${SetupReps - 1}"
      val warmS = timedS(tracer.span("warm") { _ => w.warm(s"${o.work}/warm") })
      deleteTree(s"${o.work}/warm")

      val probe = new SparkProbe
      val passes = mutable.ArrayBuffer.empty[Pass]
      val noTaskS = mutable.ArrayBuffer.empty[Double]
      val budgetS = if (o.trace) 2 * o.seconds else o.seconds
      val minPasses = if (o.trace) 2 * MinPasses else MinPasses
      val loop0 = System.nanoTime()
      var i = 0
      while (i < minPasses || (System.nanoTime() - loop0) / 1e9 < budgetS) {
        val traced = o.trace && i % 2 == 1
        if (traced) probe.register(spark)
        val (c0, s0, ms0) = (processCpuS(), stolenCpuS(), System.currentTimeMillis())
        val t0 = System.nanoTime()
        tracer.span(s"${o.workload}.pass") { attrs =>
          w.pass(i, inputs, s"${o.work}/pass$i", if (traced) Some(probe) else None,
            tracer, attrs)
        }
        val p = Pass((System.nanoTime() - t0) / 1e9, processCpuS() - c0,
          stolenCpuS() - s0, traced)
        if (traced) {
          probe.unregister(spark)
          noTaskS += probe.noTaskMs(ms0, System.currentTimeMillis()) / 1e3
        }
        passes += p
        w.afterPass(i, s"${o.work}/pass$i", checks)
        if (i > 0) deleteTree(s"${o.work}/pass${i - 1}")
        i += 1
      }
      val timed = passes.filterNot(_.traced)
      val traced = passes.filter(_.traced)
      val wallS = median(timed.map(_.wallS))

      tracer.span("checks") { _ =>
        w.finalChecks(inputs, s"${o.work}/pass${i - 1}", checks, tracer)
      }

      val e2e = mutable.LinkedHashMap[String, (Double, String)](
        "wall_s" -> (wallS, "s"),
        "items_per_s" -> (w.items / wallS, "1/s"),
        "cpu_s" -> (median(timed.map(_.cpuS)), "s"),
        "peak_rss_mb" -> (peakRssMb(), "MB"),
        "setup_s" -> (sessionS + median(materialiseS) + warmS, "s"))

      val layer = mutable.LinkedHashMap[String, (Double, String)]()
      PerLayer.names.foreach { case (n, u) => layer(n) = (0.0, u) }
      if (o.trace) {
        val c = probe.snapshot(spark)
        val n = traced.length.toDouble
        val tracedWall = traced.map(_.wallS).sum
        def put(k: String, v: Double): Unit = layer(k) = (v, layer(k)._2)
        put("spark.jobs", c.jobs / n)
        put("spark.stages", c.stages / n)
        put("spark.tasks", c.tasks / n)
        put("spark.tasks_failed", c.tasksFailed / n)
        put("spark.executor_run_s", c.runMs / 1e3 / n)
        put("spark.executor_cpu_s", c.cpuNs / 1e9 / n)
        put("spark.gc_s", c.gcMs / 1e3 / n)
        put("spark.shuffle_write_mb", c.shuffleWriteB / 1048576.0 / n)
        put("spark.shuffle_read_mb", c.shuffleReadB / 1048576.0 / n)
        put("spark.fetch_wait_s", c.fetchWaitMs / 1e3 / n)
        put("spark.spill_mb", c.spillB / 1048576.0 / n)
        put("spark.input_mb", c.inputB / 1048576.0 / n)
        put("spark.output_mb", c.outputB / 1048576.0 / n)
        put("spark.slot_busy_frac", c.runMs / 1e3 / (tracedWall * nproc))
        put("driver.plan_s", c.planMs / 1e3 / n)
        put("driver.no_task_s", noTaskS.sum / n)
        put("trace.overhead_s", median(traced.map(_.wallS)) - wallS)
        w.perLayer(e2e("items_per_s")._1, c, n).foreach { case (k, v) => put(k, v) }
      }

      val stolen = passes.map(_.stealS).sum
      val report = mutable.ArrayBuffer.empty[String]
      report += f"workload=${o.workload} seed=${o.seed} window=$window " +
        f"passes=${timed.length} traced_passes=${traced.length} items_per_pass=${w.items}"
      e2e.foreach { case (k, (v, u)) => report += f"  $k%-22s $v%14.4f $u" }
      w.extraReport(wallS).foreach { case (k, v, u) =>
        report += f"  $k%-22s $v%14.4f $u"
      }
      report += f"  ${"failed_frac"}%-22s ${checks.failed.toDouble / math.max(checks.attempted, 1)}%14.4f fraction " +
        s"(${checks.failed} of ${checks.attempted})"
      report += f"setup: session_s=$sessionS%.3f materialise_s=" +
        materialiseS.map(x => f"$x%.3f").mkString(",") + f" warm_s=$warmS%.3f"
      report += "pass_wall_s: " + passes.map(p =>
        f"${p.wallS}%.3f" + (if (p.traced) "t" else "")).mkString(" ")
      report += f"host: nproc=$nproc stolen_cpu_s=$stolen%.2f (timed region) " +
        s"jvm=${ManagementFactory.getRuntimeMXBean.getInputArguments.toArray
          .map(_.toString).filter(_.startsWith("-X")).mkString(" ")}"
      if (o.trace) {
        report += s"trace: ${tracer.size} spans -> ${o.traceOut}"
        layer.foreach { case (k, (v, u)) => report += f"  $k%-34s $v%14.4f $u" }
      }
      checks.messages.take(20).foreach(m => report += s"CHECK FAILED: $m")
      runAttrs ++= Seq("stolen_cpu_s" -> stolen, "passes" -> passes.length)

      val metrics = (if (o.trace) layer else e2e).map { case (k, (v, u)) =>
        k -> mutable.LinkedHashMap[String, Any]("value" -> v, "unit" -> u)
      }
      writeFile(o.out, json.writeValueAsString(mutable.LinkedHashMap[String, Any](
        "correct" -> checks.correct, "attempted" -> checks.attempted,
        "failed" -> checks.failed, "metrics" -> metrics, "report" -> report)))
    }
    tracer.writeJsonl(o.traceOut)
  }
}

/** Every per-layer metric, printed by every traced run (zero where a layer is
  * not on the workload's path). */
object PerLayer {
  val SuiteFamilies: Vector[String] =
    Vector("q", "qc", "qd", "qg", "qm", "qp", "qs", "qt", "qu", "qx")
  val CleanStages: Vector[String] = Vector("url", "exact", "lsh_pairs",
    "cc_survivors", "quality_gate", "substr", "line_clean", "repetition_gate",
    "split_assign")

  val names: Vector[(String, String)] = Vector(
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.tasks_failed" -> "count", "spark.executor_run_s" -> "s",
    "spark.executor_cpu_s" -> "s", "spark.gc_s" -> "s",
    "spark.shuffle_write_mb" -> "MB", "spark.shuffle_read_mb" -> "MB",
    "spark.fetch_wait_s" -> "s", "spark.spill_mb" -> "MB",
    "spark.input_mb" -> "MB", "spark.output_mb" -> "MB",
    "spark.slot_busy_frac" -> "fraction", "driver.plan_s" -> "s",
    "driver.no_task_s" -> "s", "trace.overhead_s" -> "s") ++
    CoreReplay.Layers.flatMap(l => Seq(s"core.${l}_us" -> "us", s"core.${l}_alloc_kb" -> "KB")) ++
    Vector("core.replay_docs_per_s" -> "1/s", "core.parallel_eff" -> "fraction",
      "extract_job.map_s" -> "s", "extract_job.task_skew" -> "ratio",
      "snapshot.commit_s" -> "s", "snapshot.files" -> "count", "snapshot.mb" -> "MB") ++
    CleanStages.map(s => s"clean.stage.${s}_s" -> "s") ++
    Vector("clean.lsh.candidates" -> "count", "clean.lsh.verified" -> "count",
      "clean.lsh.verify_yield" -> "fraction") ++
    SuiteFamilies.flatMap(f => Seq(s"suite.$f.wall_s" -> "s",
      s"suite.$f.jobs" -> "count", s"suite.$f.shuffle_mb" -> "MB"))
}
