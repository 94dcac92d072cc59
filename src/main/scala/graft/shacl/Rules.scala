package graft.shacl

import graft.rdf._
import graft.rdf.TriplesDF.{termLit, termKey}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** SHACL-AF rules engine — the reference's KG-construction heart
  * (/root/reference/pyshacl/rules/__init__.py:20-124 + rules/triple).
  *
  * TripleRule semantics: per applicable focus node, the S×P×O cartesian
  * product of three node-expression results is added to the data graph;
  * rules run in (shape sh:order, rule sh:order); with iterate_rules each
  * shape's rule list repeats to fixpoint (cap 100). Here the per-focus
  * loop is a 3-way join on the focus column and "new triples only" is
  * [[Closure.absorb]]'s left-anti join against the current triples frame.
  *
  * Node expressions (/root/reference/pyshacl/helper/expression_helper.py:158-285):
  * sh:this, constants, sh:path, sh:union, sh:intersection, sh:filterShape,
  * and SHACLFunction calls (compiled fast path or full SPARQL bodies via
  * SparqlFrame — see EFunction below).
  */
sealed trait NodeExprIR
object NodeExprIR {
  case object EThis extends NodeExprIR
  final case class EConst(n: Node) extends NodeExprIR
  final case class EUnion(parts: List[NodeExprIR]) extends NodeExprIR
  final case class EIntersection(parts: List[NodeExprIR]) extends NodeExprIR
  final case class EPath(paths: List[PathIR]) extends NodeExprIR
  final case class EFilterShape(filter: Node, nodes: NodeExprIR) extends NodeExprIR
  final case class EFunction(fn: Node, args: List[NodeExprIR]) extends NodeExprIR

  def parse(sg: MemGraph, compiler: ShapeCompiler, expr: Node): NodeExprIR = expr match {
    case SH.thisNode => EThis
    case i: Iri => EConst(i)
    case l: Lit => EConst(l)
    case b: BNode =>
      val unions = sg.objects(b, SH.union).toList
      val inters = sg.objects(b, SH.intersection).toList
      if (unions.nonEmpty && inters.nonEmpty)
        throw new ReportableError("Cannot have sh:intersection and sh:union on the same bnode.")
      if (unions.nonEmpty)
        EUnion(sg.items(unions.head).map(parse(sg, compiler, _)))
      else if (inters.nonEmpty)
        EIntersection(sg.items(inters.head).map(parse(sg, compiler, _)))
      else {
        val paths = sg.objects(b, SH.path).toList
        if (paths.nonEmpty) EPath(paths.map(compiler.parsePath(_)))
        else {
          val filters = sg.objects(b, SH.filterShape).toList
          val nodes = sg.objects(b, SH.nodes).toList
          if (filters.nonEmpty && nodes.nonEmpty)
            EFilterShape(filters.head, parse(sg, compiler, nodes.head))
          else {
            // FunctionExpression: a (fn, argsList) pair where the object is
            // an rdf:list, rdf:nil for no arguments (expression_helper.py:222-283;
            // sh:message skipped)
            val fnPairs = sg.predicateObjects(b).filter { case (pk, pv) =>
              pk != SH.message && (pv match {
                case l: Lit => false
                case other => other == RDF.nil || sg.value(other, RDF.first).isDefined
              })
            }.toList
            fnPairs.headOption match {
              case Some((fnIri, argsList)) =>
                EFunction(fnIri, sg.items(argsList).map(parse(sg, compiler, _)))
              case None =>
                throw new ReportableError(s"Unsupported node expression $b")
            }
          }
        }
      }
  }
}

sealed trait RuleIR {
  def shape: Node
  def ruleNode: Node
  def conditions: List[Node]
  def order: BigDecimal
  def deactivated: Boolean
}

final case class TripleRuleIR(
  shape: Node,
  ruleNode: Node,
  s: NodeExprIR, p: NodeExprIR, o: NodeExprIR,
  conditions: List[Node],
  order: BigDecimal,
  deactivated: Boolean) extends RuleIR

/** sh:SPARQLRule: CONSTRUCT queries run with $this pre-bound per focus
  * (/root/reference/pyshacl/rules/sparql/__init__.py:28-127). */
final case class SparqlRuleIR(
  shape: Node,
  ruleNode: Node,
  constructs: List[String],
  prefixes: Map[String, String],
  conditions: List[Node],
  order: BigDecimal,
  deactivated: Boolean) extends RuleIR

object RulesEngine {
  import NodeExprIR._

  /** Gather TripleRules + SPARQLRules (rules/__init__.py:20-86). */
  def gatherRules(sg: MemGraph, compiler: ShapeCompiler): List[RuleIR] = {
    val tripleRuleNodes = sg.subjects(RDF.ty, SH.TripleRule).toSet
    val sparqlRuleNodes = sg.subjects(RDF.ty, SH.SPARQLRule).toSet
    if (tripleRuleNodes.intersect(sparqlRuleNodes).nonEmpty)
      throw new ReportableError("A SHACL Rule cannot be both a TripleRule and a SPARQLRule.")
    sg.subjectObjects(SH.rule).toList.map { case (shapeNode, ruleNode) =>
      if (!tripleRuleNodes.contains(ruleNode) && !sparqlRuleNodes.contains(ruleNode))
        throw new ReportableError(
          "when using sh:rule, the Rule must be defined as either a TripleRule or SPARQLRule.")
      def one(p: Iri, what: String): Node = sg.objects(ruleNode, p).toList match {
        case List(x) => x
        case Nil => throw new ReportableError(s"No $what")
        case _ => throw new ReportableError(s"Too many $what")
      }
      val conditions = sg.objects(ruleNode, SH.condition).toList.flatMap { c =>
        if (sg.value(c, RDF.first).isDefined) sg.items(c) else List(c)
      }
      val order = sg.value(ruleNode, SH.order) match {
        case Some(Lit(lex, _, _)) => try BigDecimal(lex) catch { case _: Throwable => BigDecimal(0) }
        case _ => BigDecimal(0)
      }
      val deact = sg.value(ruleNode, SH.deactivated).exists {
        case Lit("true", _, _) => true
        case _ => false
      }
      if (sparqlRuleNodes.contains(ruleNode)) {
        val constructs = sg.objects(ruleNode, SH.construct).toList.map {
          case Lit(lex, _, _) => lex
          case _ => throw new ReportableError(
            "SPARQLRule sh:construct must be an xsd:string")
        }
        if (constructs.isEmpty)
          throw new ReportableError("No sh:construct on SPARQLRule")
        SparqlRuleIR(shapeNode, ruleNode, constructs,
          Sparql.collectPrefixes(sg, ruleNode), conditions, order, deact)
      } else
        TripleRuleIR(shapeNode, ruleNode,
          parse(sg, compiler, one(SH.subject, "sh:subject")),
          parse(sg, compiler, one(SH.predicate, "sh:predicate")),
          parse(sg, compiler, one(SH.objectP, "sh:object")),
          conditions, order, deact)
    }
  }

  /** Rules-only entry point (pyshacl.shacl_rules / RuleExpandRunner.run,
    * /root/reference/pyshacl/rule_expand_runner.py:131-252): returns the
    * expanded triples frame (input ∪ rule-derived). */
  def expand(
      spark: SparkSession,
      triples0: DataFrame,
      sg: MemGraph,
      iterateRules: Boolean = false,
      maxIterations: Int = 100): DataFrame = {
    val compiler = new ShapeCompiler(sg)
    val shapes = compiler.compile()
    val rules = gatherRules(sg, compiler)
    if (rules.isEmpty) return triples0

    var triples = triples0.localCheckpoint(false)
    // the engine is rebuilt LAZILY — only after a rule actually added
    // triples — so the sub-shape memo cache and subclass closure survive
    // across rules and fixpoint rounds that don't mutate the graph
    // (rebuilding per rule×iteration recomputed sh:condition checks from
    // scratch every time), while a rule that does fire stays visible to the
    // rules after it, matching the reference's sequential graph mutation
    // (rule_expand_runner.py:131-252).
    var engine = new ValidationEngine(spark, triples, shapes, sg)
    var engineStale = false
    // shapes sorted by sh:order, then each shape's rules by sh:order
    val byShape = rules.groupBy(_.shape).toList
      .sortBy { case (sh, _) => (shapes.get(sh).map(_.order).getOrElse(BigDecimal(0)), sh.key) }
    for ((shapeNode, shapeRules) <- byShape) {
      val shape = shapes.getOrElse(shapeNode,
        throw new ReportableError("The shape that rule is attached to is not a valid SHACL Shape."))
      val sorted = shapeRules.sortBy(r => (r.order, r.ruleNode.key))
      var keepGoing = true
      var iters = 0
      while (keepGoing) {
        if (iters >= maxIterations)
          throw new ReportableError(s"SHACL Shape Rule iteration exceeded iteration limit of $maxIterations.")
        iters += 1
        var added = 0L
        for (r <- sorted if !r.deactivated) {
          if (engineStale) {
            // the stale engine's memo checkpoints were already materialized
            // into the grown graph; free its blocks before rebuilding
            engine.close()
            engine = new ValidationEngine(spark, triples, shapes, sg)
            engineStale = false
          }
          engine.targetsDF(shape) match {
            case None => // no targets: no focus nodes
            case Some(t0) =>
              var focus = t0
              // sh:condition: keep foci conforming to every condition shape
              for (c <- r.conditions) {
                val condShape = shapes.getOrElse(c,
                  throw new ReportableError("A SHACL Rule Condition must be an existing well-formed SHACL Shape."))
                val viol = engine.violations(condShape, focus).select(col("f").as("_vf")).distinct()
                focus = focus.join(viol, focus("f") === col("_vf"), "left_anti")
              }
              val product = r match {
                case tr: TripleRuleIR =>
                  val S = evalExpr(engine, focus, tr.s).select(col("f"), col("v").as("_s"))
                  val P = evalExpr(engine, focus, tr.p).select(col("f"), col("v").as("_p"))
                    .filter(col("_p")("k") === 0) // predicates must be IRIs
                  val O = evalExpr(engine, focus, tr.o).select(col("f"), col("v").as("_o"))
                  S.join(P, "f").join(O, "f")
                    .select(col("_s").as("s"), col("_p")("v").as("p"), col("_o").as("o"))
                case sr: SparqlRuleIR =>
                  sparqlRuleTriples(spark, engine, focus, sr)
              }
              // absorb frees the superseded graph: its only reader left is
              // the stale engine, which rebuilds before any further use
              val (grown, n) = Closure.absorb(triples, product)
              triples = grown
              added += n
              if (n > 0) engineStale = true
          }
        }
        keepGoing = added > 0 && iterateRules
      }
    }
    // the returned frame depends only on its own (rule-product) checkpoints,
    // never on the engine's internals
    engine.close()
    triples
  }

  /** SPARQLRule CONSTRUCT evaluation: the WHERE clause runs once for all
    * focus nodes ($this pre-bound as a bindings column), then each template
    * triple instantiates per solution row. Template blank nodes mint fresh
    * ids per solution (rdflib creates one bnode per CONSTRUCT result row). */
  private def sparqlRuleTriples(
      spark: SparkSession,
      engine: ValidationEngine,
      focus: DataFrame,
      sr: SparqlRuleIR): DataFrame = {
    import graft.rdf.TriplesDF.termType
    val frame = new SparqlFrame(spark, engine.triplesDF, engine.step, engine.fnsByIri, None)
    val parts = sr.constructs.flatMap { text =>
      val q = Sparql.parseQuery(text, sr.prefixes) match {
        case c: Sparql.SqConstruct => c
        case _ => throw new ReportableError(
          "Query executed by a SHACL SPARQLRule must be CONSTRUCT query.")
      }
      val seed = frame.sol(focus.select(col("f").as("this")), Set("this"))
      val res = frame.evalWhere(q.where, seed)
      val rowHash = xxhash64(to_json(struct(res.vars.toSeq.sorted.map(col): _*)),
        lit(sr.ruleNode.key))
      q.template.map { t =>
        def termCol(x: Sparql.SqTerm, bnodeTag: String): Column = x match {
          case Sparql.TVar(v) =>
            if (res.vars.contains(v)) col(v) else lit(null).cast(termType)
          case Sparql.TConst(b: BNode) =>
            struct(concat(lit(s"genid-sr-${b.id}-$bnodeTag-"), rowHash.cast("string")).as("v"),
              lit(1.toByte).as("k"), lit("").as("dt"), lit("").as("lang"))
          case Sparql.TConst(n) => graft.rdf.TriplesDF.termLit(n)
        }
        val cs = termCol(t.s, "s")
        val cp = t.p match {
          case Sparql.PredIri(i) => lit(i)
          case Sparql.PredVar(v) if res.vars.contains(v) =>
            when(col(v)("k") === 0, col(v)("v"))
          case _ => lit(null).cast("string")
        }
        val co = termCol(t.o, "o")
        res.df.select(cs.as("s"), cp.as("p"), co.as("o"))
          .filter(col("s").isNotNull && col("s")("k") =!= 2 &&
            col("p").isNotNull && col("o").isNotNull)
      }
    }
    parts.reduceOption(_ unionByName _)
      .getOrElse(spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
        graft.rdf.TriplesDF.schema))
  }

  /** Node-expression evaluation: focus frame (col f) -> (f, v) pairs. */
  def evalExpr(engine: ValidationEngine, focus: DataFrame, e: NodeExprIR): DataFrame = e match {
    case EThis => focus.select(col("f"), col("f").as("v"))
    case EConst(n) => focus.select(col("f"), termLit(n).as("v"))
    case EUnion(parts) =>
      parts.map(evalExpr(engine, focus, _)).reduce(_ unionByName _).distinct()
    case EIntersection(parts) =>
      parts.map(evalExpr(engine, focus, _)).reduce { (a, b) =>
        a.join(b.select(col("f").as("_if"), col("v").as("_iv")),
          a("f") === col("_if") && a("v") === col("_iv"), "left_semi")
      }.distinct()
    case EPath(paths) =>
      paths.map(p => engine.step(focus.select(col("f"), col("f").as("v")), p))
        .reduce(_ unionByName _).distinct()
    case EFilterShape(filterRef, nodesExpr) =>
      val nodes = evalExpr(engine, focus, nodesExpr)
      val viol = engine.violatorsOf(filterRef, nodes.select(col("v").as("f")).distinct())
        .select(col("f").as("_vf"))
      nodes.join(viol, nodes("v") === col("_vf"), "left_anti")
    case EFunction(fnRef, argExprs) =>
      // args evaluated per focus, joined on f (per-focus cartesian), then
      // one SparqlFrame call: a compiled body is a projection, a full SPARQL
      // body runs once over the distinct argument tuples
      val defn = engine.functions.getOrElse(fnRef, throw new ReportableError(
        s"The SHACLFunction $fnRef was not defined in this SHACL Shapes file."))
      var cur = focus.select(col("f"))
      val args = argExprs.zipWithIndex.map { case (a, i) =>
        cur = cur.join(evalExpr(engine, focus, a).select(col("f"), col("v").as(s"_a$i")), "f")
        col(s"_a$i")
      }
      val frame = new SparqlFrame(engine.triplesDF.sparkSession, engine.triplesDF,
        engine.step, engine.fnsByIri, None)
      val (withResult, result) = frame.callFn(defn, cur, args)
      val pairs = withResult.select(col("f"), result.as("v"))
      // a full body's unbound result derives nothing
      (if (defn.body.isRight) pairs.filter(col("v").isNotNull) else pairs).distinct()
  }
}
