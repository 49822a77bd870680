package graftbench

import org.apache.spark.sql.SparkSession

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Paths, Files => JFiles}
import java.util.Locale

/**
 * Entry point of the pipeline-level benchmark.
 *
 * {{{
 * Main --workload <etl_backfill|curation|metastore_rw> --seed <n> --seconds <s> --trace <0|1> --out <dir>
 * Main --self-test
 * }}}
 *
 * One JVM, one Spark session on local[k] (k = min(4, cores)), one
 * client thread. A run sets the workload up several times (setup_s is
 * their median), warms up once, then repeats timed iterations until
 * the time budget is spent. Every iteration's output is checked
 * against a reference the benchmark computes itself. With --trace 1
 * half of the budget runs untraced and half traced, and the per-layer
 * figures come from the traced half. The last stdout line is the
 * result JSON; a human-readable report goes to stderr and to
 * <out>/report.txt.
 */
object Main {
  val SetupReps = 3

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean, out: String)

  private def parseArgs(a: Array[String]): Args = {
    val kv = a.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def req(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"--$k is required"))
    Args(req("workload"), req("seed").toLong, req("seconds").toDouble, req("trace") == "1", req("out"))
  }

  def main(argv: Array[String]): Unit = {
    if (argv.contains("--self-test")) { SelfTest.run(); println("self-test ok"); return }
    SelfTest.run()
    val args = parseArgs(argv)
    require(Workload.Names.contains(args.workload), s"unknown workload '${args.workload}'")
    val result = new Run(args).execute()
    println(result)
  }

  /** Resident-set high-water mark of this process, in MB. */
  def peakRssMb(): Double = {
    val status = Paths.get("/proc/self/status")
    val fromProc =
      if (!JFiles.isReadable(status)) None
      else new String(JFiles.readAllBytes(status), StandardCharsets.UTF_8).linesIterator
        .find(_.startsWith("VmHWM:")).map(_.replaceAll("[^0-9]", "").toDouble / 1024.0)
    fromProc.getOrElse {
      val rt = Runtime.getRuntime
      (rt.totalMemory() - rt.freeMemory()) / 1048576.0
    }
  }

  def processCpuNs(): Long =
    ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
      case _ => 0L
    }

  def loadAverage(): Double = ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  def nonDaemonThreads(): Set[Thread] = {
    import scala.jdk.CollectionConverters._
    Thread.getAllStackTraces.keySet.asScala.filter(t => t.isAlive && !t.isDaemon).toSet
  }
}

/** One iteration as measured: wall and CPU around the workload call,
  * the workload's own record, its check, and (traced) the layer
  * figures and spans. */
final case class Measured(wallS: Double, cpuS: Double, out: IterOut, check: CheckOut,
                          layer: Map[String, Double], spans: Seq[Span])

final class Run(args: Main.Args) {
  import Main._

  private val nproc = Runtime.getRuntime.availableProcessors()
  private val cores = math.max(1, math.min(4, nproc))
  private val log = new StringBuilder

  private def note(s: String): Unit = { System.err.println(s"[perfbench] $s"); log.append(s).append('\n') }

  def execute(): String = {
    val loadStart = loadAverage()
    val scratch = Paths.get(args.out).toAbsolutePath.toString
    Files.delete(scratch)
    JFiles.createDirectories(Paths.get(scratch))
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .appName(s"perfbench-${args.workload}")
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$scratch/spark-local")
      .config("spark.sql.warehouse.dir", s"$scratch/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.CodegenMonitor.install()
    val sessionS = (System.nanoTime() - t0) / 1e9
    try measure(spark, scratch, sessionS, loadStart)
    finally {
      spark.stop()
      // keep the report and spans; the generated data goes
      Seq("work", "spark-local", "warehouse").foreach(d => Files.delete(s"$scratch/$d"))
    }
  }

  private def measure(spark: SparkSession, scratch: String, sessionS: Double, loadStart: Double): String = {
    val ctx = Ctx(spark, args.seed, s"$scratch/work", cores)
    val w = Workload(args.workload, ctx)
    val setups = (1 to SetupReps).map { rep =>
      val s0 = System.nanoTime()
      w.setup(rep)
      val s = (System.nanoTime() - s0) / 1e9
      System.err.println(s"[perfbench] setup $rep: ${Stats.fmt(s)} s")
      s
    }
    w.prepareChecks()
    // Each workload warms up with a short untimed run; the end-to-end
    // figures then time the first full iterations, as a scheduled
    // pipeline run pays them. The traced run adds one more untimed
    // iteration, so its untraced and traced halves compare like with
    // like and their difference is the tracing overhead.
    w.warmup()
    val warm = if (args.trace) phase(spark, w, 0, recorder = None) else Nil
    val untraced = phase(spark, w, if (args.trace) args.seconds / 2 else args.seconds, recorder = None)
    val traced =
      if (!args.trace) Nil
      else {
        val rec = Recorder.install(spark)
        try phase(spark, w, args.seconds / 2, Some(rec)) finally Recorder.uninstall(spark, rec)
      }
    val all = warm ++ untraced ++ traced
    val attempted = all.map(m => m.out.ops + m.check.attempted).sum
    val failed = all.map(m => m.out.failedOps + m.check.failed).sum
    all.flatMap(_.check.notes).distinct.foreach(n => note(s"check failed: $n"))

    val runS = Stats.median(untraced.map(_.wallS))
    val samples = untraced.flatMap(_.out.samples)
    val e2e: Seq[(String, Double, String)] = Seq(
      ("setup_s", Stats.median(setups), "s"),
      ("run_s", runS, "s"),
      ("cpu_s", Stats.median(untraced.map(_.cpuS)), "s"),
      ("rows_per_s", Stats.median(untraced.map(m => m.out.rows / m.wallS)), "1/s"),
      ("ops_per_s", Stats.median(untraced.map(m => m.out.ops / m.wallS)), "1/s"),
      ("op_p50_ms", Stats.median(samples), "ms"),
      ("peak_rss_mb", peakRssMb(), "MB"),
      ("stored_bytes_ratio", Stats.median(untraced.map(m =>
        m.check.storedBytes.toDouble / math.max(1L, m.check.inputBytes))), "ratio"))

    val loadEnd = loadAverage()
    val env = Map("env.nproc" -> nproc.toDouble, "env.cores" -> cores.toDouble,
      "env.load_start" -> loadStart, "env.load_end" -> loadEnd, "spark.session_start_s" -> sessionS)
    val perLayer: Seq[(String, Double, String)] =
      if (!args.trace) Nil
      else {
        val tracedRun = Stats.median(traced.map(_.wallS))
        val keys = Layers.all.map(_._1)
        val med = keys.map(k => k -> Stats.median(traced.map(_.layer.getOrElse(k, 0.0)))).toMap ++ env ++
          Map("trace.overhead_s" -> (tracedRun - runS), "trace.traced_run_s" -> tracedRun,
            "trace.untraced_run_s" -> runS, "checks.failed_ratio" -> failed.toDouble / math.max(1L, attempted))
        Layers.all.map { case (k, unit) => (k, med.getOrElse(k, 0.0), unit) }
      }

    report(setups, sessionS, untraced, traced, samples, e2e, perLayer, attempted, failed, loadStart, loadEnd)
    val metrics = (if (args.trace) perLayer else e2e).map { case (k, v, unit) =>
      s""""$k": {"value": ${Stats.json(v)}, "unit": "$unit"}"""
    }
    s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, "metrics": {${metrics.mkString(", ")}}}"""
  }

  /** Timed iterations until `budgetS` is spent: always at least one,
    * and no new one starts when the median so far would overrun. */
  private def phase(spark: SparkSession, w: Workload, budgetS: Double, recorder: Option[Recorder]): Seq[Measured] = {
    val out = Seq.newBuilder[Measured]
    val walls = scala.collection.mutable.ArrayBuffer.empty[Double]
    val start = System.nanoTime()
    def elapsed = (System.nanoTime() - start) / 1e9
    while (walls.isEmpty || elapsed + Stats.median(walls.toSeq) <= budgetS) {
      w.reset()
      recorder.foreach(_.clear())
      w.timers.values.foreach(_.reset())
      val threads0 = nonDaemonThreads()
      val codegen0 = graft.CodegenMonitor.count
      val cpu0 = processCpuNs()
      val a = System.currentTimeMillis()
      val n0 = System.nanoTime()
      val it = w.iteration(traced = recorder.isDefined)
      val wall = (System.nanoTime() - n0) / 1e9
      val b = System.currentTimeMillis()
      val cpu = (processCpuNs() - cpu0) / 1e9
      recorder.foreach(_ => org.apache.spark.sql.BenchAccess.drain(spark.sparkContext))
      val residue = residueOf(spark, threads0, recorder)
      clearState(spark)
      val chk = w.check(it)
      val (layer, spans) = recorder match {
        case Some(rec) => Layers.of(w, it, chk, rec, (a, b), wall, cores,
          graft.CodegenMonitor.count - codegen0, residue)
        case None => (Map.empty[String, Double], Nil)
      }
      walls += wall
      System.err.println(s"[perfbench] iteration ${walls.size}${if (recorder.isDefined) " (traced)" else ""}: " +
        s"${Stats.fmt(wall)} s")
      out += Measured(wall, cpu, it, chk, layer, spans)
    }
    out.result()
  }

  /** What an iteration left behind, counted BEFORE the state is
    * cleared: persisted RDDs, job groups with running jobs (traced
    * runs) or on the client thread, and new non-daemon threads. */
  private def residueOf(spark: SparkSession, threads0: Set[Thread], rec: Option[Recorder]): Map[String, Double] = {
    val sc = spark.sparkContext
    val groups = rec.map(_.activeGroups).getOrElse(Set.empty) ++
      Option(sc.getLocalProperty("spark.jobGroup.id")).toSet
    // pools shut down at the end of a run let their threads exit
    // asynchronously; give them a moment before counting
    var extra = nonDaemonThreads() -- threads0
    var waits = 0
    while (extra.nonEmpty && waits < 5) { Thread.sleep(50); waits += 1; extra = extra.filter(_.isAlive) }
    Map("spark.residual_persisted_rdds" -> sc.getPersistentRDDs.size.toDouble,
      "spark.residual_job_groups" -> groups.size.toDouble,
      "spark.residual_threads" -> extra.size.toDouble)
  }

  private def clearState(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    spark.sparkContext.clearJobGroup()
  }

  private def report(setups: Seq[Double], sessionS: Double, untraced: Seq[Measured], traced: Seq[Measured],
                     samples: Seq[Double], e2e: Seq[(String, Double, String)],
                     perLayer: Seq[(String, Double, String)], attempted: Long, failed: Long,
                     loadStart: Double, loadEnd: Double): Unit = {
    def f(x: Double) = Stats.fmt(x, 4)
    note(s"workload=${args.workload} seed=${args.seed} seconds=${f(args.seconds)} trace=${if (args.trace) 1 else 0}")
    note(s"host: nproc=$nproc local[$cores] load_start=${f(loadStart)} load_end=${f(loadEnd)} " +
      s"java=${System.getProperty("java.version")} spark=${org.apache.spark.SPARK_VERSION} " +
      s"locale=${Locale.getDefault}")
    note(s"session_start_s=${f(sessionS)} setups_s=${setups.map(f).mkString(",")}")
    note(s"iterations: untraced=${untraced.size} traced=${traced.size} " +
      s"walls_s=${untraced.map(m => f(m.wallS)).mkString(",")}")
    val tail = Stats.supportedTail(samples) match {
      case Some((p, v)) => s"p${Stats.fmt(p, 1)}=${f(v)}ms"
      case None => "no percentile above the median has 10 samples beyond it"
    }
    val spread = if (samples.size < 2) "" else s" quartile spread=${f(Stats.quartileSpread(samples))}"
    note(s"op latency: n=${samples.size} p50=${f(Stats.median(samples))}ms $tail$spread")
    e2e.foreach { case (k, v, u) => note(f"  $k%-20s ${f(v)} $u") }
    perLayer.foreach { case (k, v, u) => note(f"  $k%-36s ${f(v)} $u") }
    note(s"attempted=$attempted failed=$failed")
    JFiles.write(Paths.get(args.out, "report.txt"), log.toString.getBytes(StandardCharsets.UTF_8))
    // traced spans stay in memory until here: one JSON object per line
    val spanLines = traced.zipWithIndex.flatMap { case (m, i) =>
      m.spans.map(s => s"""{"iteration": $i, "id": ${s.id}, "parent": ${s.parent}, "layer": "${s.layer}", """ +
        s""""name": "${s.name}", "start_ms": ${s.startMs}, "end_ms": ${s.endMs}}""")
    }
    JFiles.write(Paths.get(args.out, "spans.jsonl"), spanLines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
  }
}
