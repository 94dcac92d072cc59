package perfbench

import org.apache.spark.BenchAccess
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

import scala.collection.mutable.ArrayBuffer

/** Spans the benchmark opens around the public calls of one workload call.
  * Workloads only see this interface, so the untraced path costs nothing. */
trait Tracer {
  def span[T](name: String)(body: => T): T
}

object NoTrace extends Tracer {
  def span[T](name: String)(body: => T): T = body
}

/** The layers a traced call is broken into. A layer is either a benchmark
  * span around a public call or the code, found on the driver's stack, that
  * a stretch of driver time or a Spark job belongs to. */
object Layers {
  val names: Vector[String] = Vector(
    "kg.spans", "kg.mentions", "kg.links", "kg.components", "kg.triples", "kg.store",
    "kg.recount", "lineage",
    "shacl.compile", "shacl.infer", "shacl.rules", "shacl.engine", "shacl.report",
    "ops.strip", "ops.url_dedup", "ops.quality", "ops.substring_clean",
    "ops.decontaminate", "ops.sample", "other")

  /** Lineage output directory -> the stage layer that writes and reads it. */
  private val stageDirLayer = Map(
    "spans" -> "kg.spans", "mentions" -> "kg.mentions", "links" -> "kg.links",
    "components" -> "kg.components", "triples" -> "kg.triples",
    "strip" -> "ops.strip", "url_dedup" -> "ops.url_dedup", "quality" -> "ops.quality",
    "substring_clean" -> "ops.substring_clean", "decontaminate" -> "ops.decontaminate",
    "sample" -> "ops.sample")

  final case class Frame(cls: String, method: String)

  def frame(e: StackTraceElement): Frame = Frame(e.getClassName, e.getMethodName)

  /** Parse a Spark call site ("pkg.Cls.method(File.scala:12)" per line). */
  def frames(callSite: String): IndexedSeq[Frame] =
    if (callSite == null) IndexedSeq.empty
    else callSite.split('\n').toIndexedSeq.flatMap { line =>
      val sig = line.trim.takeWhile(_ != '(')
      val dot = sig.lastIndexOf('.')
      if (dot <= 0) None else Some(Frame(sig.substring(0, dot), sig.substring(dot + 1)))
    }

  private val Kg = "graft.kg.KgPipeline$"
  private val Lin = "graft.kg.Lineage"
  private val Clean = "graft.ops.CleanPipeline$"
  private val lineageIo =
    Set("readLineage", "append", "metric", "metrics", "entries", "doneEntry", "rowsOf", "isDone")

  /** The lineage stage a directory path names, if any. */
  def stageOfDir(path: String): Option[String] =
    stageDirLayer.get(path.stripSuffix("/").split('/').last)

  /** Layer of one stack (innermost frame first) inside benchmark span
    * `span`. `stageDir` resolves the output directory of a
    * `Lineage.stage` step, which the stack alone does not name. */
  def classify(fs: IndexedSeq[Frame], span: String, stageDir: () => Option[String]): String = {
    def any(p: Frame => Boolean) = fs.exists(p)
    def under(prefix: String) = any(_.cls.startsWith(prefix))
    def in(cls: String, methods: String*) = any(f => f.cls == cls && methods.contains(f.method))
    span match {
      case "kg" | "validate" | "report" | "clean" =>
        if (any(f => f.cls == Lin && lineageIo(f.method))) "lineage"
        else if (span == "report") { if (under("graft.shacl.ShapeCompiler")) "shacl.compile" else "shacl.report" }
        else if (under("graft.shacl.RulesEngine")) "shacl.rules"
        else if (under("graft.shacl.RdfsInference") || under("graft.shacl.OwlRlInference")) "shacl.infer"
        else if (under("graft.shacl.ShapeCompiler")) "shacl.compile"
        else if (under("graft.shacl.")) "shacl.engine"
        else if (in(Kg, "tagSpans")) "kg.spans"
        else if (in(Kg, "mentions")) "kg.mentions"
        else if (in(Kg, "linkEntities")) "kg.links"
        else if (under("graft.kg.ConnectedComponents") || in(Kg, "canonicalize", "entityEdges")) "kg.components"
        else if (in(Kg, "materializeTriples", "mediaTriples")) "kg.triples"
        else if (in(Clean, "strip")) "ops.strip"
        else if (in(Clean, "urlDedup")) "ops.url_dedup"
        else if (in(Clean, "qualityFilter")) "ops.quality"
        else if (in(Clean, "substringClean")) "ops.substring_clean"
        else if (in(Clean, "decontaminateDrop")) "ops.decontaminate"
        else if (under("graft.ops.Sampling")) "ops.sample"
        else if (in(Lin, "marker")) { if (under(Kg)) "kg.store" else "ops.substring_clean" }
        else if (in(Lin, "stage")) stageDir().flatMap(stageOfDir).getOrElse("other")
        else {
          // what is left inside KgPipeline.run: the store commit and the
          // read-back counts at its end (store.read() then count)
          val own = fs.filter(_.cls.startsWith("graft."))
          val store = own.takeWhile(_.cls.startsWith("graft.kg.TripleStore"))
          own.drop(store.size).headOption match {
            case Some(Frame(Kg, "run")) if store.isEmpty || store.last.method == "read" => "kg.recount"
            case _ if store.nonEmpty => "kg.store"
            case _ => "other"
          }
        }
      case _ => "other"
    }
  }
}

/** Maps System.nanoTime onto the wall clock Spark stamps its events with. */
final class Clock {
  private val epoch0 = System.currentTimeMillis()
  private val nano0 = System.nanoTime()
  def epochMs(ns: Long): Double = epoch0 + (ns - nano0) / 1e6
}

final case class SpanRec(name: String, startNs: Long, endNs: Long, parent: String)

object JobListener {
  final case class Job(id: Int, startMs: Long, var endMs: Long, execId: Long, span: String,
                       callSite: String)
  final case class Exec(startMs: Long, var endMs: Long, details: String, plan: String)
  final case class Task(stageId: Int, durationMs: Long, cpuNs: Long, shuffleBytes: Long)
}

/** Records jobs, SQL executions and task metrics while a traced call runs. */
final class JobListener extends SparkListener {
  import JobListener._

  val jobs = ArrayBuffer.empty[Job]
  val execs = scala.collection.mutable.LinkedHashMap.empty[Long, Exec]
  val tasks = ArrayBuffer.empty[Task]
  val stageJob = scala.collection.mutable.HashMap.empty[Int, Int]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
    val site = prop("callSite.long").orElse(
      e.stageInfos.sortBy(_.stageId).lastOption.map(_.details)).orNull
    jobs += Job(e.jobId, e.time, Long.MaxValue, prop("spark.sql.execution.id").map(_.toLong).getOrElse(-1L),
      prop("perfbench.span").orNull, site)
    e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.find(_.id == e.jobId).foreach(_.endMs = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    val dur = if (e.taskInfo != null) e.taskInfo.duration else 0L
    val (cpu, shuffle) =
      if (m == null) (0L, 0L)
      else (m.executorCpuTime, m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten)
    tasks += Task(e.stageId, dur, cpu, shuffle)
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      execs(s.executionId) = Exec(s.time, Long.MaxValue, s.details, s.physicalPlanDescription)
    }
    case s: SparkListenerSQLExecutionEnd => synchronized {
      execs.get(s.executionId).foreach(_.endMs = s.time)
    }
    case _ =>
  }
}

object Sampler {
  val PeriodMs = 5L
  final case class Sample(ns: Long, stack: Array[StackTraceElement], span: String)
}

/** Samples the driver thread's stack every `Sampler.PeriodMs`. */
final class Sampler(target: Thread, span: () => String) extends Thread("perfbench-sampler") {
  setDaemon(true)
  val samples = ArrayBuffer.empty[Sampler.Sample]
  @volatile private var running = true

  override def run(): Unit =
    while (running) {
      val sp = span()
      val st = target.getStackTrace
      samples += Sampler.Sample(System.nanoTime(), st, sp)
      Thread.sleep(Sampler.PeriodMs)
    }

  def finish(): Unit = { running = false; join() }
}

/** Per-layer figures of one traced call. */
final case class LayerStats(wallS: Double, driverS: Double, jobs: Int, taskCpuS: Double,
                            shuffleMb: Double, skew: Double)

/** One traced workload call: a stack sampler on the driver thread plus a
  * listener for the jobs the call launches. `finish` turns both into
  * per-layer figures and a span list. */
final class CallTrace(spark: SparkSession) extends Tracer {
  private val sc = spark.sparkContext
  private val clock = new Clock
  private val listener = new JobListener
  @volatile private var current: String = null
  private val spanStack = scala.collection.mutable.Stack.empty[String]
  private val spans = ArrayBuffer.empty[SpanRec]
  private val sampler = new Sampler(Thread.currentThread(), () => current)

  def start(): this.type = {
    sc.addSparkListener(listener)
    sampler.start()
    this
  }

  def span[T](name: String)(body: => T): T = {
    val parent = spanStack.headOption.getOrElse("")
    val t0 = System.nanoTime()
    spanStack.push(name); current = name
    sc.setLocalProperty("perfbench.span", name)
    try body
    finally {
      spanStack.pop()
      current = spanStack.headOption.orNull
      sc.setLocalProperty("perfbench.span", current)
      spans += SpanRec(name, t0, System.nanoTime(), parent)
    }
  }

  /** Stop sampling, drain the listener bus and attribute everything that
    * happened in [t0, t1] (nanoTime) to layers. */
  def finish(t0: Long, t1: Long): (Map[String, LayerStats], Seq[SpanRec]) = {
    sampler.finish()
    BenchAccess.drainListeners(sc)
    sc.removeSparkListener(listener)
    listener.synchronized(analyse(t0, t1))
  }

  private def analyse(t0: Long, t1: Long): (Map[String, LayerStats], Seq[SpanRec]) = {
    val execs = listener.execs.values.toVector.sortBy(_.startMs)
    def dirOfPlan(plan: String): Option[String] = {
      // formatted plans: the insert command's first argument is its path
      val insert = """Arguments: ((?:file:)?/[^,\s]+)""".r
      val scan = """Location: \w+ ?(?:\(\d+ paths?\))?\[([^\],]+)""".r
      insert.findFirstMatchIn(plan).map(_.group(1))
        .filter(p => Layers.stageOfDir(p).isDefined)
        .orElse(scan.findAllMatchIn(plan).map(_.group(1)).find(p => Layers.stageOfDir(p).isDefined))
    }
    // the SQL execution running at (or, while it is being planned, next
    // after) a wall-clock instant
    def execAt(ms: Double): Option[JobListener.Exec] =
      execs.filter(e => e.startMs <= ms && ms <= e.endMs).lastOption
        .orElse(execs.find(_.startMs >= ms))

    val jobLayer = listener.jobs.map { j =>
      val exec = listener.execs.get(j.execId)
      val own = Layers.frames(j.callSite)
      val fs = if (own.exists(_.cls.startsWith("graft."))) own
               else own ++ exec.map(e => Layers.frames(e.details)).getOrElse(IndexedSeq.empty)
      j.id -> Layers.classify(fs, j.span, () => exec.flatMap(e => dirOfPlan(e.plan)))
    }.toMap

    val jobSpans = listener.jobs.map(j => (j.startMs.toDouble, j.endMs.toDouble)).toVector
    def jobRunning(ms: Double) = jobSpans.exists { case (a, b) => a <= ms && ms <= b }

    val wall = scala.collection.mutable.HashMap.empty[String, Double].withDefaultValue(0.0)
    val driver = scala.collection.mutable.HashMap.empty[String, Double].withDefaultValue(0.0)
    val segments = ArrayBuffer.empty[SpanRec]
    val inCall = sampler.samples.filter(s => s.ns >= t0 && s.ns <= t1)
    var prev = t0
    inCall.zipWithIndex.foreach { case (s, i) =>
      val end = if (i == inCall.size - 1) t1 else s.ns
      val ms = clock.epochMs(s.ns)
      val layer = Layers.classify(s.stack.toIndexedSeq.map(Layers.frame), s.span,
        () => execAt(ms).flatMap(e => dirOfPlan(e.plan)))
      val dt = (end - prev) / 1e9
      wall(layer) += dt
      if (!jobRunning(ms)) driver(layer) += dt
      val parent = Option(s.span).getOrElse("")
      if (segments.nonEmpty && segments.last.name == layer && segments.last.parent == parent)
        segments(segments.size - 1) = segments.last.copy(endNs = end)
      else segments += SpanRec(layer, prev, end, parent)
      prev = end
    }
    if (inCall.isEmpty) wall("other") += (t1 - t0) / 1e9

    val tasksByLayer = listener.tasks.groupBy(t =>
      listener.stageJob.get(t.stageId).flatMap(jobLayer.get).getOrElse("other"))
    val stats = Layers.names.map { l =>
      val ts = tasksByLayer.getOrElse(l, ArrayBuffer.empty)
      val skew = if (ts.isEmpty) 0.0 else {
        val heaviest = ts.groupBy(_.stageId).values.maxBy(_.map(_.durationMs).sum)
        val d = heaviest.map(_.durationMs.toDouble).sorted.toSeq
        d.last / math.max(Stats.median(d), 1.0)
      }
      l -> LayerStats(wall(l), driver(l), jobLayer.values.count(_ == l),
        ts.map(_.cpuNs).sum / 1e9, ts.map(_.shuffleBytes).sum / 1e6, skew)
    }.toMap
    (stats, spans.toSeq ++ segments.toSeq)
  }
}
