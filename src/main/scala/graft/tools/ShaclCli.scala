package graft.tools

import graft.rdf._
import graft.shacl._

/** CLI validator, pySHACL-CLI-shaped (/root/reference/pyshacl/cli.py:243-420):
  * exit 0 conforms / 1 not / 2 error; prints the report text and, with -f
  * ttl, the report triples.
  *
  * Usage: runMain graft.tools.ShaclCli <data.ttl> [shapes.ttl] [--inference rdfs] [--ttl]
  */
object ShaclCli {

  final case class CliArgs(
    pos: List[String],
    opts: ValidationOptions,
    fmt: String,
    ontFile: Option[String],
    /** shacl-shacl.ttl path for -m/--metashacl (the reference bakes the
      * asset in; zero-egress here means the caller points at a copy). */
    metashacl: Option[String],
    /** --imports: chase local owl:imports while loading the data graph. */
    imports: Boolean,
    /** -o/--output: write the report to a file instead of stdout. */
    output: Option[String] = None)

  /** Parse CLI args. Split out so the flag surface is testable without
    * exiting a JVM. Formats mirror pySHACL's -f (cli.py:185-187): human
    * (default) / turtle / nt / table; --ttl is shorthand for -f turtle. */
  def parseArgs(args: Array[String]): CliArgs = {
    val valueFlags = Set("--inference", "--focus", "--use-shapes", "-f", "--format",
      "-e", "--ont-graph", "-m", "--metashacl", "-o", "--output")
    val pos = args.toList.zipWithIndex.filterNot { case (a, i) =>
      a.startsWith("-") || (i > 0 && valueFlags.contains(args(i - 1)))
    }.map(_._1)
    def valueOf(flag: String): Option[String] =
      args.sliding(2).collectFirst { case Array(`flag`, v) => v }
    def setOf(flag: String): Option[Set[String]] =
      valueOf(flag).map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet).filter(_.nonEmpty)
    val opts = ValidationOptions(
      inference = valueOf("--inference").getOrElse("none"),
      advanced = args.contains("--advanced"),
      iterateRules = args.contains("--iterate-rules"),
      allowInfos = args.contains("--allow-infos"),
      allowWarnings = args.contains("--allow-warnings"),
      abortOnFirst = args.contains("--abort-first"),
      // --strict-owlrl: abort on OWL-RL inconsistency like the reference
      failOnInconsistency = args.contains("--strict-owlrl"),
      // pySHACL -f / --focus and --use-shapes (validator.py:237-255,
      // shape.py:670-684): comma-separated IRI lists
      focusNodes = setOf("--focus"),
      useShapes = setOf("--use-shapes"))
    // pySHACL -e/--ont-graph (cli.py:137-143): extra ontology file mixed
    // into the data graph via axiom inoculation before validation
    val ont = valueOf("-e").orElse(valueOf("--ont-graph"))
    val fmt =
      if (args.contains("--ttl")) "turtle"
      else valueOf("-f").orElse(valueOf("--format")).getOrElse("human")
    // n3 renders as turtle like the reference effectively does for reports
    if (!Set("human", "turtle", "n3", "nt", "table", "json-ld", "xml").contains(fmt))
      throw new IllegalArgumentException(s"unsupported output format '$fmt'")
    CliArgs(pos, opts, fmt, ont,
      metashacl = valueOf("-m").orElse(valueOf("--metashacl")),
      imports = args.contains("--imports"),
      output = valueOf("-o").orElse(valueOf("--output")))
  }

  /** Report graph as N-Triples (term toString is already NT form). */
  def ntriples(g: graft.rdf.MemGraph): String =
    g.triples().map(t => s"${t.s} ${t.p} ${t.o} .").toSeq.sorted.mkString("", "\n", "\n")

  /** pySHACL's -f table: a conforms box + one row per ValidationResult
    * (cli.py:435-470). */
  def table(out: Validator.Outcome): String = {
    def box(rows: Seq[Seq[String]], header: Seq[String]): String = {
      val all = header +: rows
      val widths = header.indices.map(i => all.map(r => r(i).length).max)
      val line = widths.map(w => "-" * (w + 2)).mkString("+", "+", "+")
      def fmt(r: Seq[String]) =
        r.zip(widths).map { case (c, w) => " " + c.padTo(w, ' ') + " " }.mkString("|", "|", "|")
      (Seq(line, fmt(header), line) ++ rows.map(fmt) :+ line).mkString("\n")
    }
    val head = box(Seq(Seq(out.conforms.toString)), Seq("Conforms"))
    if (out.conforms) head + "\n"
    else {
      val sh = "http://www.w3.org/ns/shacl#"
      def clip(s: String) = if (s.length > 25) s.take(25) + "..." else s
      val rows = out.results.filterNot(_.isDetail).zipWithIndex.map { case (r, i) =>
        // actual sh:resultSeverity local name (cli.py write_validation_output
        // prints the real severity; sh:Warning/sh:Info rows appear under
        // --allow-warnings/--allow-infos and must not be mislabeled)
        val sev = out.sevByShape.getOrElse(r.shapeKey, SH.Violation)
          .value.stripPrefix(sh)
        Seq((i + 1).toString, sev, clip(r.focus.toString),
          r.pathKey.map(clip).getOrElse("-"),
          r.messages.headOption.map(m => clip(m.lex)).getOrElse("-"),
          clip(r.component.value.stripPrefix(sh)), clip(r.shapeKey),
          r.value.map(v => clip(v.toString)).getOrElse("-"))
      }
      head + "\n\n" + box(rows, Seq("No.", "Severity", "Focus Node", "Result Path",
        "Message", "Component", "Shape", "Value")) + "\n"
    }
  }

  def main(args: Array[String]): Unit = {
    if (args.isEmpty) { System.err.println("usage: ShaclCli <data.ttl> [shapes.ttl] [--inference rdfs|owlrl|both] [--strict-owlrl] [-f human|turtle|nt|table] [--ttl] [--advanced] [--iterate-rules] [--allow-infos] [--allow-warnings] [--abort-first] [--focus <iri,iri>] [--use-shapes <iri,iri>] [-e ontology.ttl] [-m shacl-shacl.ttl] [--imports] [-o report.out]"); sys.exit(2) }
    val CliArgs(pos, opts, fmt, ontFile, metashacl, imports, output) = parseArgs(args)
    val spark = Sessions.local("graft-shacl")
    try {
      // --imports: chase local owl:imports from the data document
      // (GraphLoader.loadWithImports; web IRIs recorded as skipped)
      val dataG =
        if (imports) GraphLoader.loadWithImports(pos.head).graph
        else GraphLoader.parseFile(pos.head, bnodePrefix = "d")
      val shapesG = pos.lift(1).map(GraphLoader.parseFile(_, bnodePrefix = "s"))
      val ontG = ontFile.map(GraphLoader.parseFile(_, bnodePrefix = "o"))
      // -m/--metashacl: the shapes graph must itself conform to
      // shacl-shacl BEFORE validation (validator.py:344-358); failure
      // aborts with the reference's error text (exit 2 via the catch)
      for (shsh <- metashacl)
        MetaShacl.check(spark, shapesG.getOrElse(dataG), shsh)
      val out = Validator.validateGraph(spark, dataG, shapesG, opts, ontGraph = ontG)
      val rendered = fmt match {
        case "human" => out.reportText
        // pySHACL -f turtle emits ONLY the serialized report graph (pipeable
        // into a Turtle parser), same as the nt/json-ld/xml branches
        case "turtle" | "n3" => TurtleWriter.write(out.reportGraph)
        case "nt" => ntriples(out.reportGraph)
        case "json-ld" => JsonLdWriter.write(out.reportGraph)
        case "xml" => RdfXmlWriter.write(out.reportGraph)
        case "table" => table(out)
      }
      // pySHACL -o/--output (cli.py:189-196): report to a file, stdout
      // otherwise
      output match {
        case Some(f) => java.nio.file.Files.write(java.nio.file.Paths.get(f),
          rendered.getBytes("UTF-8")); ()
        case None => println(rendered)
      }
      spark.stop()
      sys.exit(if (out.conforms) 0 else 1)
    } catch {
      case e: Throwable =>
        System.err.println(s"error: ${e.getMessage}")
        spark.stop()
        sys.exit(2)
    }
  }
}

/** Batch SHT-suite runner: prints per-case pass/fail + totals.
  * Usage: runMain graft.tools.ShtCli [suiteDir] */
object ShtCli {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/reference/test/resources/sht_tests/core")
    val spark = Sessions.local("graft-sht")
    val results =
      if (args.contains("--dash")) ShtSuite.runAllDash(spark, dir)
      else ShtSuite.runAll(spark, dir)
    results.foreach { r =>
      val mark = if (r.passed) "PASS" else "FAIL"
      println(f"$mark ${r.file.stripPrefix(dir)}%-60s ${if (r.passed) "" else r.detail.linesIterator.mkString(" | ")}")
    }
    val pass = results.count(_.passed)
    println(s"TOTAL: $pass/${results.size} passed")
    spark.stop()
    if (pass < results.size) sys.exit(1)
  }
}
