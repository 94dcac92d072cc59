package perfbench

import org.apache.spark.sql.SparkSession

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory
import scala.collection.mutable.ArrayBuffer

/** One benchmark run of one workload in this JVM: set up, warm up, then
  * closed-loop calls (one at a time) for `--seconds`. Prints the metrics and,
  * as the last line, the result JSON. With `--trace 1` every second call is
  * traced and the per-layer figures are reported instead of the end-to-end
  * ones.
  *
  * Usage: perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *          --work <dir> [--stamp key=value]... */
object Main {
  val SetupRepeats = 3
  /** Untraced runs measure the first call of a fresh JVM, as a CLI
    * invocation sees it: a warm-up call would add 12-19 s to each of the
    * many runs a before/after comparison makes on a 4-core host, more than
    * its time budget holds. Traced runs first make one warm-up call, so
    * their traced and untraced calls are equally warm for `trace_overhead`. */
  def warmupCalls(trace: Boolean): Int = if (trace) 1 else 0

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        work: String, stamp: Map[String, String])

  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).toList
    def one(k: String) = kv.collectFirst { case Array(`k`, v) => v }
    def need(k: String) = one(k).getOrElse(throw new IllegalArgumentException(s"missing $k"))
    Args(need("--workload"), need("--seed").toLong, need("--seconds").toDouble,
      need("--trace") == "1", need("--work"),
      kv.collect { case Array("--stamp", v) if v.contains('=') =>
        v.takeWhile(_ != '=') -> v.dropWhile(_ != '=').drop(1) }.toMap)
  }

  def session(work: String, cpus: Int): SparkSession = {
    val s = SparkSession.builder().master(s"local[$cpus]").appName("perfbench")
      .config("spark.sql.shuffle.partitions", math.max(cpus * 4, 16).toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.shuffle.sort.bypassMergeThreshold", "64")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.log.level", "ERROR")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete()
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    require(Workload.names.contains(a.workload), s"unknown workload ${a.workload}")
    // full driver stacks in job call sites: layers are read from them
    System.setProperty("spark.callstack.depth", "400")
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val load0 = Host.loadavg1()
    val ticks0 = Host.cpuTicks()
    val cpus = Runtime.getRuntime.availableProcessors
    val runId = s"${a.workload}-seed${a.seed}-trace${if (a.trace) 1 else 0}-${System.currentTimeMillis}"
    val spark = session(a.work, cpus)
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    val wl = Workload(a.workload, spark, a.work, a.seed)

    // set-up: the session once, input generation + storage + expected
    // outputs several times (median)
    val prepS = (1 to SetupRepeats).map { _ =>
      val t = System.nanoTime(); wl.prepare(); (System.nanoTime() - t) / 1e9
    }
    val setupS = sessionS + Stats.median(prepS)

    var attempted, failed, callNo = 0
    var violations = 0L
    def once(tr: Tracer): (Long, Long, String) = {
      callNo += 1
      val out = new File(s"${a.work}/out/call$callNo").getAbsolutePath
      val t0 = System.nanoTime()
      val r = try tr.span("call")(wl.call(out, tr))
      catch { case e: Throwable => CallResult(Seq(s"call threw $e"), 0L) }
      val t1 = System.nanoTime()
      attempted += 1
      violations = r.violations
      System.err.println(f"perfbench: ${a.workload} call $callNo ${(t1 - t0) / 1e9}%.3f s")
      if (r.failures.nonEmpty) {
        failed += 1
        r.failures.foreach(f => System.err.println(s"CHECK FAILED [${a.workload} call $callNo]: $f"))
      }
      (t0, t1, out)
    }
    def secs(t: (Long, Long, String)) = (t._2 - t._1) / 1e9
    def cleanup(t: (Long, Long, String)): Unit = deleteTree(new File(t._3))

    val warm = (1 to warmupCalls(a.trace)).map { _ => val c = once(NoTrace); cleanup(c); secs(c) }

    val walls = ArrayBuffer.empty[Double]
    val tracedWalls = ArrayBuffer.empty[Double]
    val layerRuns = ArrayBuffer.empty[Map[String, LayerStats]]
    val extraRuns = ArrayBuffer.empty[Map[String, Double]]
    val spanLog = ArrayBuffer.empty[(Int, Seq[SpanRec], Long)]
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    var i = 0
    while (elapsed < a.seconds || walls.isEmpty || (a.trace && tracedWalls.isEmpty)) {
      if (a.trace && i % 2 == 1) {
        val ct = new CallTrace(spark).start()
        val c = once(ct)
        val (stats, spans) = ct.finish(c._1, c._2)
        tracedWalls += secs(c)
        layerRuns += stats
        extraRuns += (try wl.traceExtras(c._3) catch { case _: Throwable => Map.empty[String, Double] })
        spanLog += ((callNo, spans, c._1))
        cleanup(c)
      } else {
        val c = once(NoTrace); walls += secs(c); cleanup(c)
      }
      i += 1
    }
    val measureS = elapsed
    val peakRss = Host.peakRssMb()
    val load1 = Host.loadavg1()
    val ticks1 = Host.cpuTicks()
    val stealFrac = (ticks1._1 - ticks0._1).toDouble / math.max(ticks1._2 - ticks0._2, 1L)

    val wallS = Stats.median(walls.toSeq)
    val e2e: Seq[(String, Double, String)] = Seq(
      ("wall_s", wallS, "s"),
      ("items_per_s", wl.inputUnits / wallS, "1/s"),
      ("setup_s", setupS, "s"),
      ("peak_rss_mb", peakRss, "MB"))
    val perLayer: Seq[(String, Double, String)] = if (!a.trace) Nil else {
      def avg(f: LayerStats => Double)(l: String) = Stats.mean(layerRuns.map(r => f(r(l))).toSeq)
      Layers.names.flatMap { l =>
        Seq(("wall_s", avg(_.wallS)(l), "s"), ("driver_s", avg(_.driverS)(l), "s"),
          ("jobs", avg(_.jobs.toDouble)(l), "count"), ("task_cpu_s", avg(_.taskCpuS)(l), "s"),
          ("shuffle_mb", avg(_.shuffleMb)(l), "MB"), ("skew", avg(_.skew)(l), "ratio"))
          .map { case (m, v, u) => (s"$l.$m", v, u) }
      } ++ Seq(
        ("shacl.engine.jobs_per_shape",
          if (wl.shapeCount == 0) 0.0 else avg(_.jobs.toDouble)("shacl.engine") / wl.shapeCount, "count"),
        ("shacl.engine.violations", violations.toDouble, "count"),
        ("kg.components.rows_out",
          Stats.mean(extraRuns.map(_.getOrElse("kg.components.rows_out", 0.0)).toSeq), "count"),
        ("trace_overhead", Stats.median(tracedWalls.toSeq) / wallS - 1.0, "ratio"))
    }
    val reported = if (a.trace) perLayer else e2e

    val host = Map(
      "nproc" -> cpus, "mem_total_mb" -> Host.memTotalMb(),
      "loadavg1_start" -> load0, "loadavg1_end" -> load1, "cpu_steal_frac" -> stealFrac,
      "spark" -> spark.version, "jdk" -> System.getProperty("java.version"),
      "jvm" -> System.getProperty("java.vm.version"), "xmx_mb" -> Host.xmxMb()) ++ a.stamp
    val record = Map(
      "run_id" -> runId, "workload" -> a.workload, "seed" -> a.seed, "trace" -> a.trace,
      "seconds" -> a.seconds, "host" -> host,
      "input" -> Map("kind" -> wl.inputKind, "units" -> wl.inputUnits, "shapes" -> wl.shapeCount),
      "setup" -> Map("session_s" -> sessionS, "prepare_s" -> prepS),
      "warmup_s" -> warm, "calls_s" -> walls, "traced_calls_s" -> tracedWalls,
      "measure_s" -> measureS, "attempted" -> attempted, "failed" -> failed,
      "metrics" -> (e2e ++ perLayer).map { case (n, v, u) =>
        n -> Map("value" -> v, "unit" -> u, "samples" -> sampleCount(n, walls.size, layerRuns.size))
      }.toMap)
    writeFile(s"${a.work}/results/$runId.json", Json(record) + "\n")
    if (a.trace) writeSpans(s"${a.work}/traces/$runId.jsonl", a.workload, runId, spanLog.toSeq)

    println(s"perfbench ${a.workload} seed=${a.seed} trace=${if (a.trace) 1 else 0} " +
      s"calls=${walls.size}+${tracedWalls.size} traced, warm-up=${warm.size}, " +
      s"attempted=$attempted failed=$failed")
    println("host " + Json(host))
    reported.foreach { case (n, v, u) =>
      println(f"  $n%-34s $v%14.4f $u%-6s (n=${sampleCount(n, walls.size, layerRuns.size)})")
    }
    if (a.trace) {
      val sum = Layers.names.map(l => Stats.mean(layerRuns.map(_(l).wallS).toSeq)).sum
      println("  layer wall_s sum %.4f s vs traced call wall %.4f s (mean)".format(
        sum, Stats.mean(tracedWalls.toSeq)))
    }
    println(Json(Map(
      "correct" -> (failed == 0), "attempted" -> attempted, "failed" -> failed,
      "metrics" -> reported.map { case (n, v, u) => n -> Map("value" -> v, "unit" -> u) }.toMap)))
    spark.stop()
  }

  private def sampleCount(metric: String, calls: Int, traced: Int): Int = metric match {
    case "setup_s" => SetupRepeats
    case "peak_rss_mb" => 1
    case "wall_s" | "items_per_s" => calls
    case _ => traced
  }

  private def writeFile(path: String, text: String): Unit = {
    val f = new File(path)
    f.getParentFile.mkdirs()
    val w = new PrintWriter(f, "UTF-8")
    try w.write(text) finally w.close()
  }

  /** One JSON line per span (benchmark spans and layer segments) with its
    * self time, then one line per layer with its total self time. */
  private def writeSpans(path: String, workload: String, runId: String,
                         calls: Seq[(Int, Seq[SpanRec], Long)]): Unit = {
    val lines = ArrayBuffer.empty[String]
    val selfByLayer = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    for ((call, spans, t0) <- calls) {
      val children = spans.groupBy(_.parent)
      spans.foreach { s =>
        val dur = (s.endNs - s.startNs) / 1e9
        val isLayer = Layers.names.contains(s.name)
        val self = if (isLayer) dur
          else dur - children.getOrElse(s.name, Nil).filter(_ ne s).map(c => (c.endNs - c.startNs) / 1e9).sum
        if (isLayer) selfByLayer(s.name) = selfByLayer.getOrElse(s.name, 0.0) + dur
        lines += Json(Map("name" -> s.name, "kind" -> (if (isLayer) "layer" else "span"),
          "start_s" -> (s.startNs - t0) / 1e9, "end_s" -> (s.endNs - t0) / 1e9,
          "parent" -> s.parent, "workload" -> workload, "run_id" -> runId, "call" -> call,
          "self_s" -> self))
      }
    }
    selfByLayer.foreach { case (l, s) =>
      lines += Json(Map("layer" -> l, "self_s" -> s / math.max(calls.size, 1),
        "workload" -> workload, "run_id" -> runId))
    }
    writeFile(path, lines.mkString("", "\n", "\n"))
  }
}
