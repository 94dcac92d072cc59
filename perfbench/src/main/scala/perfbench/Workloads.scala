package perfbench

import graft.kg.{KgPipeline, TripleStore}
import graft.ops.CleanPipeline
import graft.rdf.{TriplesDF, TurtleParser}
import graft.shacl.{ShapeCompiler, ValidationOptions, Validator}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** What one workload call produced: the failed output checks (empty when
  * the call passed) and the validation results it reported. */
final case class CallResult(failures: Seq[String], violations: Long)

/** A named workload. `prepare` generates and stores the input and computes
  * the expected outputs; it can be repeated. `call` runs the public entry
  * points on that input into `outDir` and checks what they return and
  * write, inside the tracer's spans. */
trait Workload {
  def name: String
  /** Input documents or triples one call processes (throughput numerator). */
  def inputUnits: Long
  def inputKind: String
  def shapeCount: Int
  def prepare(): Unit
  def call(outDir: String, tr: Tracer): CallResult
  /** Figures read back from a traced call's output directory. */
  def traceExtras(outDir: String): Map[String, Double] = Map.empty
}

object Workload {
  val names: Seq[String] = Seq("kg_build", "shacl", "clean_docs")

  def apply(name: String, spark: SparkSession, work: String, seed: Long): Workload =
    name match {
      case "kg_build" => new KgBuild(spark, KgBuild.Docs, seed)
      case "shacl" => new Shacl(spark, s"$work/input/shacl", seed, Shacl.Records, Shacl.depths(1.0))
      case "clean_docs" => new CleanDocs(spark, s"$work/input/clean_docs", seed, CleanDocs.Docs)
      case other => throw new IllegalArgumentException(
        s"unknown workload '$other' (known: ${names.mkString(", ")})")
    }

  /** Mismatch lines for `name`: expected vs actual. */
  def diff(name: String, expected: Any, actual: Any): Option[String] =
    if (expected == actual) None else Some(s"$name: expected $expected, got $actual")
}

object KgBuild { val Docs = 2000 }

/** `KgPipeline.run` with validation on `DocSynth` documents, checked against
  * a single-threaded recount. */
final class KgBuild(spark: SparkSession, nDocs: Int, seed: Long) extends Workload {
  val name = "kg_build"
  var expected: KgOracle.Expected = _
  def inputUnits: Long = nDocs
  def inputKind = "docs"
  lazy val shapeCount: Int =
    new ShapeCompiler(TurtleParser.parseGraph(KgPipeline.shapesTtl, "http://graft.dev/shapes")).compile().size

  def prepare(): Unit = expected = KgOracle.expected(nDocs, seed)

  def call(outDir: String, tr: Tracer): CallResult = {
    val c = tr.span("kg") {
      KgPipeline.run(spark, outDir, nDocs, seed, validate = true, runId = "bench")
    }
    tr.span("check") {
      val e = expected
      val fails = Seq(
        Workload.diff("docs", e.docs, c.docs),
        Workload.diff("spans", e.spans, c.spans),
        Workload.diff("mentions", e.mentions, c.mentions),
        Workload.diff("links", e.mentions, c.links),
        Workload.diff("entities", e.entities, c.entities),
        Workload.diff("components", e.components, c.components),
        Workload.diff("store triples", e.triples, c.triples),
        Workload.diff("conforms", e.conforms, c.conforms)).flatten
      CallResult(fails, 0L)
    }
  }

  override def traceExtras(outDir: String): Map[String, Double] = {
    val rows = spark.read.parquet(s"$outDir/_lineage")
      .filter(col("stage") === "components" && col("status") === "done")
      .select(max(col("rowsOut"))).head().getLong(0)
    Map("kg.components.rows_out" -> rows.toDouble)
  }
}

object Shacl {
  val Records = 200
  /** The benchmark's depths at `scale` 1; the smoke tests use less. */
  def depths(scale: Double): ShaclGen.Depths = {
    def s(n: Int) = math.max(2, math.round(n * math.min(scale, 1.0)).toInt)
    ShaclGen.Depths(chains = s(8), chainDepth = s(3), items = s(100), classDepth = s(3),
      parts = s(8), partDepth = s(4), trees = s(8), treeDepth = s(2))
  }
}

/** One validation (OWL-RL inference, iterated SHACL-AF rules) over a stored
  * graph holding both single-hop shapes and recursive ones (path closure,
  * subclass targets, transitive property, rules), then its report triples
  * through a `TripleStore`; checked against the generator's planted
  * violations. */
final class Shacl(spark: SparkSession, inputDir: String, seed: Long, records: Int,
                  depths: ShaclGen.Depths, tamper: Boolean = false) extends Workload {
  val name = "shacl"
  def inputKind = "triples"
  private val options = ValidationOptions(inference = "owlrl", advanced = true, iterateRules = true)
  var graph: ShaclGen.Graph = _
  var shapes: graft.rdf.MemGraph = _
  var inputUnits: Long = 0L
  def shapeCount: Int = new ShapeCompiler(shapes).compile().size

  def prepare(): Unit = {
    graph = ShaclGen.merge(ShaclGen.wide(seed, records, tamper = tamper), ShaclGen.deep(seed, depths))
    TriplesDF.fromTriples(spark, graph.triples).write.mode(SaveMode.Overwrite).parquet(inputDir)
    shapes = TurtleParser.parseGraph(graph.shapesTtl, "http://bench.example/shapes")
    inputUnits = graph.triples.size.toLong
  }

  def call(outDir: String, tr: Tracer): CallResult = {
    val triples = spark.read.parquet(inputDir)
    val out = tr.span("validate") {
      Validator.validateFrameAtScale(spark, triples, shapes, options)
    }
    val snapshot = tr.span("report") {
      val compiled = new ShapeCompiler(shapes).compile()
      val report = Validator.reportTriplesFrame(out.violations, compiled)
      try new TripleStore(spark, s"$outDir/report").append(report)
      finally out.release()
    }
    tr.span("check") {
      val byPred = new TripleStore(spark, s"$outDir/report").read()
        .groupBy(col("p")).count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val comps = (graph.violations.keySet ++ out.countsByComponent.keySet).toSeq.sorted
      val preds = (graph.report.keySet ++ byPred.keySet).toSeq.sorted
      val fails =
        Workload.diff("conforms", graph.violations.values.sum == 0, out.conforms).toSeq ++
        Workload.diff("report snapshot", 1L, snapshot) ++
        // the report and the counts come from the same validation
        Workload.diff("report results vs countsByComponent", out.countsByComponent.values.sum,
          byPred.getOrElse(graft.rdf.RDF.ty.value, 0L)) ++
        comps.flatMap(c => Workload.diff(s"results of $c",
          graph.violations.getOrElse(c, 0L), out.countsByComponent.getOrElse(c, 0L))) ++
        preds.flatMap(p => Workload.diff(s"report triples with $p",
          graph.report.getOrElse(p, 0L), byPred.getOrElse(p, 0L)))
      CallResult(fails, out.totalViolations)
    }
  }
}

/** `CleanPipeline.run` on the corpus `CleanCli` builds, checked against the
  * planted URL duplicates and benchmark contamination. */
final class CleanDocs(spark: SparkSession, inputDir: String, seed: Long, nDocs: Int,
                      fat: Int = 2) extends Workload {
  val name = "clean_docs"
  def inputKind = "docs"
  def shapeCount = 0
  private def isBench(n: Long) = n % 1000 == 0
  /** corpus documents (bench split excluded) */
  val inputUnits: Long = (0L until nDocs).count(n => !isBench(n)).toLong
  /** docs sharing a canonical URL keep one per URL */
  val urlDrops: Long = (0L until nDocs).filter(n => n % 25 == 0 && !isBench(n))
    .groupBy(_ % 2).values.map(_.size - 1L).sum
  /** docs carrying a benchmark document's eval phrase */
  val planted: Set[String] =
    (0L until nDocs).filter(n => n % 499 == 7 && !isBench(n)).map(n => s"doc:$n").toSet
  var urlDropsExpected: Long = urlDrops

  def prepare(): Unit = {
    val (docs, bench) = CleanDocs.corpus(spark, nDocs, seed, fat)
    docs.write.mode(SaveMode.Overwrite).parquet(s"$inputDir/docs")
    bench.write.mode(SaveMode.Overwrite).parquet(s"$inputDir/bench")
  }

  def call(outDir: String, tr: Tracer): CallResult = {
    val docs = spark.read.parquet(s"$inputDir/docs")
    val bench = spark.read.parquet(s"$inputDir/bench")
    val c = tr.span("clean") {
      CleanPipeline.run(spark, outDir, docs, bench, checksum = s"docs=$nDocs;seed=$seed", minWords = 20)
    }
    tr.span("check") {
      def ids(stage: String) =
        spark.read.parquet(s"$outDir/$stage").select(col("doc_id")).collect().map(_.getString(0)).toSet
      val reached = ids("substring_clean")
      val dropped = reached -- ids("decontaminate")
      val fails = Seq(
        Workload.diff("docs in", inputUnits, c.docsIn),
        Workload.diff("after strip", inputUnits, c.afterStrip),
        Workload.diff("url duplicates dropped", urlDropsExpected, c.afterStrip - c.afterUrlDedup),
        Workload.diff("contaminated docs dropped", (planted & reached).toSeq.sorted, dropped.toSeq.sorted),
        if ((planted & reached).isEmpty) Some("no planted contamination reached decontaminate") else None
      ).flatten
      CallResult(fails, 0L)
    }
  }
}

object CleanDocs {
  val Docs = 5000

  /** The seeded corpus and bench split `CleanCli` builds, with the same
    * planted URL duplicates, duplicated runs and eval phrases. */
  def corpus(spark: SparkSession, nDocs: Long, seed: Long, fat: Int): (DataFrame, DataFrame) = {
    val all = graft.kg.DocSynth.docs(spark, nDocs, seed, 16, fat).toDF()
      .select(col("doc_id"),
        concat_ws(" ", transform(filter(col("spans"), s => s("kind") === lit("text")),
          s => s("text"))).as("text"),
        substring(col("doc_id"), 5, 20).cast("long").as("n"))
    val lang = when(pmod(col("n"), lit(10)) < 5, "en")
      .when(pmod(col("n"), lit(10)) < 7, "de").otherwise("other")
    val url = concat(lit("HTTPS://Ex.COM:443/"),
      when(col("n") % 25 === 0, concat(lit("shared/"), (col("n") % 2).cast("string")))
        .otherwise(concat(lit("u/"), col("n").cast("string"))),
      lit("?utm_source=feed&p=1#frag"))
    val isBench = col("n") % 1000 === 0
    val pairBase = when(col("n") % 100 === 2, col("n")).otherwise(col("n") - 1)
    val dupRun = concat_ws(" ", (0 until 30).map(i =>
      concat(lit("dup"), pairBase.cast("string"), lit(s"x$i"))): _*)
    val withDup = when(col("n") % 100 === 2 || col("n") % 100 === 3,
      concat(col("text"), lit(" "), dupRun)).otherwise(col("text"))
    val benchMod = math.max(1L, nDocs / 1000L)
    val evalPhrase = concat_ws(" ", (0 until 15).map(i =>
      concat(lit("evalq"), ((col("n") % benchMod) * 1000).cast("string"), lit(s"y$i"))): _*)
    val corpusText = when(col("n") % 499 === 7, concat(withDup, lit(" "), evalPhrase))
      .otherwise(withDup)
    val benchText = concat(col("text"), lit(" "),
      concat_ws(" ", (0 until 15).map(i =>
        concat(lit("evalq"), col("n").cast("string"), lit(s"y$i"))): _*))
    val docs = all.filter(!isBench).select(col("doc_id"), lang.as("lang"),
      lit("synth").as("source"), corpusText.as("text"), url.as("url"))
    val bench = all.filter(isBench).select(col("doc_id"), benchText.as("text"))
    (docs, bench)
  }
}
