package graft.shacl

import graft.rdf._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.types.ArrayType

/** High-level validation entry point — the analogue of pyshacl.validate()
  * (/root/reference/pyshacl/entrypoints.py:33-256 +
  * /root/reference/pyshacl/validator.py:193-342).
  *
  * Data scales through the DataFrame path; the shapes graph is compiled
  * driver-side (it is always small). When no shapes graph is supplied the
  * data graph doubles as the shapes graph (validator.py:73-83).
  */
object Validator {

  final case class Outcome(
    conforms: Boolean,
    reportGraph: MemGraph,
    reportNode: Node,
    reportText: String,
    results: Seq[ResultRow],
    /** shapeKey → sh:severity of the source shape, for renderers that only
      * see result rows (the CLI table); defaults keep old call sites green. */
    sevByShape: Map[String, Iri] = Map.empty)

  /** Validate a driver-side data graph (tests / small graphs): the data is
    * shipped through the same DataFrame engine; CBDs for report cloning
    * come from the in-memory graph. */
  def validateGraph(
      spark: SparkSession,
      dataGraph: MemGraph,
      shapesGraph: Option[MemGraph],
      opts: ValidationOptions = ValidationOptions(),
      ontGraph: Option[MemGraph] = None): Outcome = {
    val sg = shapesGraph.getOrElse(dataGraph)
    // ont_graph mixin = axiom inoculation, not a plain union (validator.py
    // mix_in_ontology -> rdfutil/inoculate.py)
    val data = ontGraph.map(o => Inoculate.mix(dataGraph, o)).getOrElse(dataGraph)
    validateFrame(spark, TriplesDF.fromMemGraph(spark, data), sg, dataCbd = n => data.cbd(n),
      opts, prefixes = sg.nsPrefixes ++ data.nsPrefixes)
  }

  /** Validate an arbitrary triples DataFrame (the at-scale path), after
    * the inference and rules `opts` ask for. CBDs for blank-node report
    * cloning are fetched via targeted scans. */
  def validateFrame(
      spark: SparkSession,
      triples: DataFrame,
      shapesGraph: MemGraph,
      dataCbd: Node => Seq[Triple],
      opts: ValidationOptions = ValidationOptions(),
      prefixes: Map[String, String] = Map.empty): Outcome = {
    val (shapes, engine) = prepare(spark, triples, shapesGraph, opts)
    val rows = engine.run()
    val allowed = allowedSeverities(opts)
    val shapesByKey = shapes.values.map(sh => sh.id.key -> sh).toMap
    // detail rows (sh:detail children) never flip conformance on their own
    val blocking = rows.filterNot(_.isDetail).filterNot(r =>
      allowed.contains(shapesByKey.get(r.shapeKey).map(_.severity).getOrElse(SH.Violation)))
    val conformsV = blocking.isEmpty
    val (conforms, g, rep) = ReportBuilder.build(rows, shapes, shapesGraph, dataCbd,
      conformsOverride = Some(conformsV))
    val out = Outcome(conforms, g, rep,
      ReportBuilder.text(conforms, rows.filterNot(_.isDetail), shapes,
        if (prefixes.nonEmpty) prefixes else shapesGraph.nsPrefixes), rows,
      shapesByKey.map { case (k, s) => k -> s.severity })
    // all results are collected into `rows` above; free the engine's
    // localCheckpoint blocks (memo cache, value-node frames) so long
    // sessions validating many graphs don't pin RDDs for the JVM lifetime
    engine.close()
    out
  }

  /** At-scale validation outcome: nothing driver-bound except bounded
    * aggregates. `violations` is the full distributed frame, already
    * materialized by the counts job — write it to parquet / a TripleStore,
    * or derive report triples from it, without re-running validation. */
  final case class ScaleOutcome(
    conforms: Boolean,
    totalViolations: Long,
    countsByComponent: Map[String, Long],
    countsBySeverity: Map[String, Long],
    sample: Seq[ResultRow],
    sampleText: String,
    violations: DataFrame,
    /** frees the engine's checkpointed RDDs, the stored violations
      * included; call AFTER `violations` (and anything derived from it) has
      * been written/collected — the frame is unusable afterwards */
    release: () => Unit = () => ())

  /** Validate an arbitrarily large triples DataFrame without collecting
    * the violations to the driver (the reference materializes every result
    * into an in-memory report graph — a scale-killer for nonconforming
    * data at 100 TB; here the driver sees only counts and a bounded
    * sample). */
  def validateFrameAtScale(
      spark: SparkSession,
      triples: DataFrame,
      shapesGraph: MemGraph,
      opts: ValidationOptions = ValidationOptions(),
      sampleSize: Int = 100): ScaleOutcome = {
    val (shapes, engine) = prepare(spark, triples, shapesGraph, opts)
    import org.apache.spark.sql.functions._
    // detail rows are report decoration, not top-level results
    val viol = engine.violationsFrame().filter(col("prid").isNull)
    // one distributed aggregation: (component, shape) cardinality is tiny;
    // it also fills the violations checkpoint the sample and callers read
    val counts = viol.groupBy(col("comp"), col("shape")).count().collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val total = counts.map(_._3).sum
    val bySev = counts.groupBy { case (_, sk, _) => engine.severityOf(sk).value }
      .map { case (sev, rows) => sev -> rows.map(_._3).sum }
    val byComp = counts.groupBy(_._1).map { case (c, rows) => c -> rows.map(_._3).sum }
    val allowed = allowedSeverities(opts).map(_.value)
    val blocking = bySev.filterNot { case (sev, _) => allowed.contains(sev) }.values.sum
    val sampleRows = viol.limit(sampleSize).collect().toSeq.map(ResultRow.of)
    val text = ReportBuilder.text(blocking == 0, sampleRows, shapes, shapesGraph.nsPrefixes) +
      (if (total > sampleRows.size)
         s"... (${total - sampleRows.size} more results not shown; see the violations frame)\n"
       else "")
    ScaleOutcome(blocking == 0, total, byComp, bySev, sampleRows, text, viol,
      release = () => engine.close())
  }

  /** Violations frame → validation-report TRIPLES frame, fully
    * distributed (the at-scale completion of the report path: write these
    * through a TripleStore / parquet sink instead of collecting an
    * in-memory report graph). One deterministic result bnode per row;
    * severities resolve through a broadcastable shape-key map. Report-root
    * and sh:conforms triples are driver-side one-liners the caller adds
    * (they need the global count anyway). */
  def reportTriplesFrame(viol: DataFrame, shapes: Map[graft.rdf.Node, ShapeIR]): DataFrame = {
    import org.apache.spark.sql.functions._
    val termType = TriplesDF.termType
    def iriT(v: Column) = struct(v.as("v"), lit(0.toByte).as("k"), lit("").as("dt"), lit("").as("lang"))
    val sevMap = shapes.values.map(s => s.id.key -> s.severity.value).toMap
    val sevCol = sevMap.foldLeft(lit(SH.Violation.value)) { case (acc, (k, sev)) =>
      when(col("shape") === k, sev).otherwise(acc)
    }
    // the constraint node and messages are part of the identity: two
    // distinct sh:sparql constraints on one shape hitting the same
    // (focus, value) must yield distinct result nodes, not one merged
    // result with both message sets
    val rn = struct(
      concat(lit("vr"), conv(xxhash64(col("f"), col("v"), col("path"), col("comp"),
        col("shape"), col("orig"), col("constraint"), col("msgs"))
        .cast("string"), 10, 16)).as("v"),
      lit(1.toByte).as("k"), lit("").as("dt"), lit("").as("lang"))
    // one projection and one explode, not a union of per-predicate
    // projections: each result yields its (p, o) pairs, the optional ones
    // null when absent and dropped after the explode
    def po(p: Iri, o: Column) = struct(lit(p.value).as("p"), o.as("o"))
    val pairs = concat(
      array(po(RDF.ty, iriT(lit(SH.ValidationResult.value))), po(SH.focusNode, col("f")),
        po(SH.resultSeverity, iriT(sevCol)), po(SH.sourceShape, TriplesDF.keyTerm(col("shape"))),
        po(SH.sourceConstraintComponent, iriT(col("comp"))),
        when(col("v").isNotNull, po(SH.value, col("v"))),
        when(col("path").isNotNull, po(SH.resultPath, TriplesDF.keyTerm(col("path"))))),
      transform(coalesce(col("msgs"), array().cast(ArrayType(termType))),
        m => po(SH.resultMessage, m)))
    viol.filter(col("prid").isNull).select(rn.as("s"), explode(pairs).as("po"))
      .filter(col("po").isNotNull).select(col("s"), col("po.p").as("p"), col("po.o").as("o"))
  }

  /** The preparation both frame entry points share: inference, then
    * SHACL-AF rules in advanced mode (graph mutation before any constraint
    * runs, validator.py:323-330), then the compiled shapes and the engine
    * over the expanded triples. */
  private def prepare(spark: SparkSession, triples: DataFrame, shapesGraph: MemGraph,
                      opts: ValidationOptions): (Map[Node, ShapeIR], ValidationEngine) = {
    val inferred = inferenceStep(spark, triples, opts)
    val expanded =
      if (opts.advanced) RulesEngine.expand(spark, inferred, shapesGraph, opts.iterateRules)
      else inferred
    val shapes = new ShapeCompiler(shapesGraph).compile()
    (shapes, new ValidationEngine(spark, expanded, shapes, shapesGraph, opts))
  }

  /** allow_infos / allow_warnings (shape.py:729-741): results at these
    * severities still report but do not flip conformance. */
  private def allowedSeverities(opts: ValidationOptions): Set[Iri] =
    if (opts.allowWarnings) Set(SH.Info, SH.Warning)
    else if (opts.allowInfos) Set(SH.Info)
    else Set.empty

  /** Pre-validation inference (run_type.py:21-85): 'rdfs', 'owlrl', or
    * 'both' (owlrl here subsumes the rdfs closure). With
    * failOnInconsistency, an inconsistent graph aborts with the
    * reference's failure instead of proceeding to validation. */
  private def inferenceStep(spark: SparkSession, df: DataFrame,
                            opts: ValidationOptions): DataFrame =
    opts.inference match {
      case "rdfs" => RdfsInference.expand(spark, df)
      case "owlrl" | "both" =>
        val out = OwlRlInference.expand(spark, df)
        if (opts.failOnInconsistency) OwlRlInference.requireConsistent(spark, out)
        out
      case _ => df
    }

  /** CBD provider over a DataFrame for the at-scale path: one targeted
    * filter per requested bnode subtree (reports are small). */
  def frameCbd(spark: SparkSession, triples: DataFrame)(root: Node): Seq[Triple] = {
    import org.apache.spark.sql.functions._
    val out = scala.collection.mutable.ListBuffer.empty[Triple]
    val seen = scala.collection.mutable.Set.empty[Node]
    var frontier: Seq[Node] = Seq(root)
    while (frontier.nonEmpty) {
      val keys = frontier.map(_.key)
      val got = TriplesDF.collectTriples(
        triples.filter(TriplesDF.termKey(col("s")).isin(keys: _*)))
      out ++= got
      seen ++= frontier
      frontier = got.map(_.o).collect { case b: BNode if !seen.contains(b) => b }.distinct
    }
    out.toSeq.distinct
  }
}
