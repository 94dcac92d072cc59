package graft.shacl

import graft.rdf._
import graft.rdf.TriplesDF.{termLit, termKey, nullTerm, termType}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

final class ReportableError(msg: String) extends RuntimeException(msg)

final case class ValidationOptions(
  maxDepth: Int = 15,
  /** fixpoint cap for sh:zeroOrMorePath/oneOrMorePath closures */
  maxPathDepth: Int = 100,
  inference: String = "none", // none | rdfs | owlrl | both
  // --strict-owlrl parity mode: the reference's owlrl run FAILS on
  // inconsistent data (run_type.py:82-85); default here routes detections
  // to the inconsistencies() diagnostics frame and proceeds (the right
  // shape at 100 TB), this flag escalates to the reference's failure
  failOnInconsistency: Boolean = false,
  advanced: Boolean = false, // apply SHACL-AF rules before validating
  iterateRules: Boolean = false,
  // allow_infos / allow_warnings (shape.py:729-741): results at/below the
  // allowed severity still report but do not flip conformance
  allowInfos: Boolean = false,
  allowWarnings: Boolean = false,
  // abort_on_first (validator.py:336-337)
  abortOnFirst: Boolean = false,
  // CLI focus-node filter (shape.py:670-684): restrict to these IRIs
  focusNodes: Option[Set[String]] = None,
  // use_shapes shape selection (validator.py:237-255): validate only the
  // named shapes (their sub-shapes still evaluate through references)
  useShapes: Option[Set[String]] = None
)

/** Catalyst-native SHACL validation engine.
  *
  * Everything is set-oriented: a shape compiles into DataFrame plans over a
  * triples frame (s,p,o term structs); no per-focus loops. The recursion
  * spine of the reference (shape.validate -> constraint -> shape.validate,
  * /root/reference/pyshacl/shape.py:621-822) becomes recursive *plan
  * construction*; per-value results are rows of one unioned violations
  * DataFrame collected once per validation.
  */
final class ValidationEngine(
    spark: SparkSession,
    triples: DataFrame,
    shapes: Map[Node, ShapeIR],
    sg: MemGraph,
    opts: ValidationOptions = ValidationOptions()) {
  import ConstraintIR._
  import PathIR._
  import spark.implicits._

  Kernels.ensure(spark)

  /** Compiled sh:SPARQLFunction registry (shapes-graph scoped). */
  lazy val functions: Map[Node, ShaclFnDef] = ShaclFunctions.gather(sg)

  private val T = triples

  /** The triples frame this engine validates (rules engine reuse). */
  def triplesDF: DataFrame = T

  // ------------------------------------------------- checkpoint lifecycle
  /** Every localCheckpoint this engine mints (memoized sub-shape results,
    * value-node frames, path-closure frontiers) pins RDD blocks until the
    * JVM exits; a long session validating many graphs accumulates them.
    * close() frees all of them once the outputs are materialized. */
  private val trackedCheckpoints = scala.collection.mutable.ListBuffer.empty[DataFrame]

  /** Register `df` (the result of a .localCheckpoint(), eager or lazy) so
    * close() can unpersist it. */
  private def trackCp(df: DataFrame): DataFrame = {
    trackedCheckpoints.synchronized { trackedCheckpoints += df }
    df
  }

  /** Unpersist every checkpoint this engine created and drop the memo
    * cache. A localCheckpoint's lineage is truncated, so frames derived
    * from this engine must be fully materialized (collected / written)
    * before closing — do not run further queries on them afterwards. */
  def close(): Unit = {
    trackedCheckpoints.synchronized {
      trackedCheckpoints.foreach(Closure.free)
      trackedCheckpoints.clear()
    }
    memo.synchronized(memo.clear())
  }

  /** Violation row: focus, value (nullable), result path key (nullable),
    * component IRI, source shape key. Severity/messages resolved from the
    * shape IR at report-build time. */
  private val violSchema = StructType(Seq(
    StructField("f", termType, nullable = false),
    StructField("v", termType, nullable = true),
    StructField("path", StringType, nullable = true),
    StructField("comp", StringType, nullable = false),
    StructField("shape", StringType, nullable = false),
    StructField("orig", termType, nullable = false),
    StructField("constraint", StringType, nullable = true),
    // per-result message override (SPARQL constraints / components carry
    // their own sh:message, constraint-scoped rather than shape-scoped)
    StructField("msgs", ArrayType(termType), nullable = true),
    // sh:detail nesting (shape_based_constraints.py:230-244): rid names a
    // result, prid links a nested child result to its parent; prid != null
    // rows are report details, not top-level results
    StructField("rid", StringType, nullable = true),
    StructField("prid", StringType, nullable = true)))

  private val nullMsgs: Column = lit(null).cast(ArrayType(termType))

  private def msgsLit(msgs: Seq[Lit]): Column =
    if (msgs.isEmpty) nullMsgs else array(msgs.map(termLit): _*)

  /** SPARQL-constraint message with {$var}/{?var} substituted per result
    * row from the solution columns (constraint_component.py:300-323,
    * _format_sparql_based_result_message); unknown variables keep their
    * token text, like the reference. */
  private def msgsSubst(msgs: Seq[Lit], available: Set[String]): Column = {
    if (msgs.isEmpty) return nullMsgs
    val token = "\\{[\\$\\?](\\w+)\\}".r
    def one(m: Lit): Column = {
      val parts = scala.collection.mutable.ListBuffer.empty[Column]
      var last = 0
      for (t <- token.findAllMatchIn(m.lex)) {
        if (t.start > last) parts += lit(m.lex.substring(last, t.start))
        val v = t.group(1)
        if (available.contains(v)) parts += coalesce(col(v)("v"), lit(t.matched))
        else parts += lit(t.matched)
        last = t.end
      }
      if (last < m.lex.length) parts += lit(m.lex.substring(last))
      if (parts.isEmpty) parts += lit("")
      struct(concat(parts.toSeq: _*).as("v"), lit(2.toByte).as("k"),
        lit("").as("dt"), lit("").as("lang"))
    }
    array(msgs.map(one): _*)
  }

  private def emptyViol: DataFrame =
    spark.createDataFrame(new java.util.ArrayList[Row](), violSchema)

  private def termsDF(nodes: Seq[Node], col: String): DataFrame = {
    val rows = nodes.map(n => Row(TriplesDF.rowOf(n)))
    spark.createDataFrame(
      new java.util.ArrayList[Row](scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava),
      StructType(Seq(StructField(col, termType, nullable = false))))
  }

  // ---------------------------------------------------------------------
  // rdfs:subClassOf closure (schema triples are small even at 100 TB data
  // scale: collected once, expanded at plan time into isin literal lists
  // so the type scan keeps predicate pushdown).
  // ---------------------------------------------------------------------
  private lazy val subClassPairs: Seq[(String, String)] =
    T.filter($"p" === RDFS.subClassOf.value)
      .select(termKey($"s"), termKey($"o")).collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq

  private lazy val downAdj: Map[String, Seq[String]] =
    subClassPairs.groupBy(_._2).map { case (k, vs) => k -> vs.map(_._1) }

  /** class key -> {itself + all transitive subclasses} (data-graph walk,
    * shape.py:342-354). */
  def downClosure(classKey: String): Set[String] =
    Closure.reach(Seq(classKey), downAdj.getOrElse(_: String, Nil))

  // ---------------------------------------------------------------------
  // Targets (shape.py:321-391)
  // ---------------------------------------------------------------------
  def targetsDF(shape: ShapeIR): Option[DataFrame] = {
    val t = shape.targets
    if (t.isEmpty) return None
    val parts = scala.collection.mutable.ListBuffer.empty[DataFrame]
    if (t.nodes.nonEmpty) parts += termsDF(t.nodes, "f")
    val classKeys = (t.classes ++ t.implicitClass).flatMap(c => downClosure(c.key)).distinct
    if (classKeys.nonEmpty)
      parts += T.filter($"p" === RDF.ty.value && termKey($"o").isin(classKeys: _*))
        .select($"s".as("f"))
    if (t.subjectsOf.nonEmpty)
      parts += T.filter($"p".isin(t.subjectsOf.map(_.value): _*)).select($"s".as("f"))
    if (t.objectsOf.nonEmpty)
      parts += T.filter($"p".isin(t.objectsOf.map(_.value): _*)).select($"o".as("f"))
    for (st <- t.sparql) parts += sparqlTargetDF(st)
    Some(parts.reduce(_ unionByName _).distinct())
  }

  /** sh:target SPARQL SELECT (target.py:136-180): the query runs once over
    * the data graph (parameters bound as constants, *not* pre-bound focus
    * vars) and its ?this column is the focus set. */
  private def sparqlTargetDF(st: SparqlTargetIR): DataFrame = {
    val frame = new SparqlFrame(spark, T, step, fnsByIri, None,
      maxPathDepth = opts.maxPathDepth)
    val q = Sparql.parseQuery(st.select, st.prefixes) match {
      case s: Sparql.SqSelect => s
      case _ => throw new ReportableError("SPARQLTarget sh:select must be a SELECT query")
    }
    val seed =
      if (st.params.isEmpty) frame.unitSeed
      else {
        val df = st.params.toSeq.sortBy(_._1).foldLeft(
          spark.range(1).select(lit(1).as("__unit"))) {
          case (d, (name, v)) => d.withColumn(name, termLit(v))
        }
        frame.sol(df, st.params.keySet + "__unit")
      }
    val res = frame.evalSelect(q, seed)
    if (!res.vars.contains("this"))
      throw new ReportableError("SPARQL target query must project ?this")
    res.df.select(col("this").as("f")).filter($"f".isNotNull).distinct()
  }

  /** Property paths: [[PathEval.step]] over this engine's triples, its
    * closures capped at maxPathDepth and their checkpoints tracked. */
  def step(frontier: DataFrame, path: PathIR): DataFrame =
    PathEval.step(T, frontier, path, opts.maxPathDepth, trackCp)

  def valueNodes(shape: ShapeIR, focus: DataFrame): DataFrame =
    shape.path match {
      case None => focus.select($"f", $"f".as("v"))
      case Some(p) => step(focus.select($"f", $"f".as("v")), p).distinct()
    }

  // ---------------------------------------------------------------------
  // Shape evaluation
  // ---------------------------------------------------------------------
  private def finish(df: DataFrame, comp: Iri, shape: ShapeIR): DataFrame = {
    val withV = if (df.columns.contains("v")) df else df.withColumn("v", nullTerm)
    val withP =
      if (df.columns.contains("path")) withV
      else withV.withColumn("path",
        shape.pathNode.map(n => lit(n.key)).getOrElse(lit(null).cast(StringType)))
    withP.select($"f", $"v", $"path",
      lit(comp.value).as("comp"), lit(shape.id.key).as("shape"),
      (if (withP.columns.contains("orig")) $"orig" else $"f").as("orig"),
      (if (withP.columns.contains("constraint")) $"constraint"
       else lit(null).cast(StringType)).as("constraint"),
      (if (withP.columns.contains("msgs")) $"msgs" else nullMsgs).as("msgs"),
      (if (withP.columns.contains("rid")) $"rid"
       else lit(null).cast(StringType)).as("rid"),
      (if (withP.columns.contains("prid")) $"prid"
       else lit(null).cast(StringType)).as("prid"))
  }

  private def childShape(ref: Node, what: String): ShapeIR =
    shapes.getOrElse(ref,
      throw new ReportableError(s"Shape pointed to by $what does not exist: $ref"))

  /** Distinct foci (as col f) that get >=1 violation from `ref` evaluated
    * with the given nodes as focus set. Conformance = not in this set. */
  private def violatorFoci(ref: Node, what: String, nodes: DataFrame,
                           stack: List[(String, String)], viaComp: String): DataFrame = {
    val cs = childShape(ref, what)
    val edge = (viaComp, cs.id.key)
    if (stack.contains(edge)) return emptyViol.select($"f") // recursion break
    if (stack.length >= opts.maxDepth)
      throw new ReportableError("Validation path too deep!")
    violations(cs, nodes, edge :: stack).select($"f").distinct()
  }

  // ---------------------------------------------------------------------
  // Sub-shape memoization (SURVEY §4.3): a shape referenced by N parents
  // with the same focus set evaluates once. Only shapes off every
  // reference cycle are cacheable — their violations are independent of
  // the recursion stack (an edge can repeat on the stack only on a cycle).
  // ---------------------------------------------------------------------
  private[shacl] lazy val cyclicShapeKeys: Set[String] = {
    import ConstraintIR._
    def refs(s: ShapeIR): List[Node] = s.constraints.flatMap {
      case CNot(l) => l
      case CAnd(ls) => ls.flatten
      case COr(ls) => ls.flatten
      case CXone(ls) => ls.flatten
      case CNode(l) => l
      case CProperty(l) => l
      case CQualified(r, _, _, _) =>
        // disjoint sibling shapes are also evaluated (see CQualified)
        r :: sg.subjects(SH.property, s.id).flatMap(p =>
          sg.objects(p, SH.property)).flatMap(ps =>
          sg.objects(ps, SH.qualifiedValueShape)).toList
      case _ => Nil
    }
    val adj: Map[String, List[String]] =
      shapes.values.map(s => s.id.key -> refs(s).map(_.key)).toMap
    def succ(k: String): List[String] = adj.getOrElse(k, Nil)
    // a shape is on a cycle iff it is reachable from its own successors
    adj.keys.filter(k => Closure.reach(succ(k), succ).contains(k)).toSet
  }

  /** Checkpointed frames by (key, focus plan): sub-shape violations under
    * ("violations", shape, depth) and value nodes under ("values", path). */
  private val memo = scala.collection.mutable.Map.empty[Any,
    List[(org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, DataFrame)]]

  /** The frame memoized under `key` for a focus with `focus`'s result, or
    * `compute` checkpointed and memoized. */
  private def memoized(key: Any, focus: DataFrame)(compute: => DataFrame): DataFrame = {
    val plan = focus.queryExecution.analyzed
    memo.synchronized(memo.getOrElse(key, Nil).find(_._1.sameResult(plan))) match {
      case Some((_, cached)) => cached
      case None =>
        val computed = trackCp(compute.localCheckpoint())
        memo.synchronized(memo(key) = (plan, computed) :: memo.getOrElse(key, Nil))
        computed
    }
  }

  /** Full violations DF for one shape against a focus DF (col f). */
  def violations(shape: ShapeIR, focus: DataFrame,
                 stack: List[(String, String)] = Nil): DataFrame = {
    if (shape.deactivated) return emptyViol
    // the cache key carries the stack depth: a result computed at a shallow
    // stack must not be reused at a depth where the maxDepth guard would
    // have fired mid-expansion (depth-limit errors would otherwise depend
    // on shape evaluation order). Entry count stays bounded by
    // shapes × depth buckets for an acyclic shapes graph.
    // memoize sub-shape evaluations only: top-level (stack-empty) plans
    // stay lazy so run() still collects everything in one job.
    if (stack.nonEmpty && !cyclicShapeKeys.contains(shape.id.key))
      memoized(("violations", shape.id.key, stack.length), focus)(
        computeViolations(shape, focus, stack))
    else computeViolations(shape, focus, stack)
  }

  private def computeViolations(shape: ShapeIR, focus: DataFrame,
                                stack: List[(String, String)]): DataFrame = {
    // reused by most constraints, and shared by every shape with the same
    // path and focus: two parents of a shared sub-shape then hand it one
    // focus plan, which the memo recognizes
    val V = memoized(("values", shape.path), focus)(valueNodes(shape, focus))
    val parts = shape.constraints.map(evalConstraint(shape, focus, V, _, stack))
    if (parts.isEmpty) emptyViol else parts.reduce(_ unionByName _)
  }

  private def strCoerce(c: Column): Column = c("v") // lexical form / IRI string

  private def evalConstraint(shape: ShapeIR, T0: DataFrame, V: DataFrame,
                             c: ConstraintIR, stack: List[(String, String)]): DataFrame = c match {

    case CClass(classes) =>
      classes.map { cls =>
        val allowed = downClosure(cls.key).toSeq
        val inst = T.filter($"p" === RDF.ty.value && termKey($"o").isin(allowed: _*))
          .select($"s".as("_i")).distinct()
        val lits = V.filter($"v"("k") === 2)
        val nonInst = V.filter($"v"("k") =!= 2)
          .join(inst, V("v") === inst("_i"), "left_anti")
        finish(lits.unionByName(nonInst), SH.ClassConstraintComponent, shape)
      }.reduce(_ unionByName _)

    case CDatatype(dtIri) =>
      val dt = dtIri.value
      val vd = $"v"("dt"); val vl = $"v"("lang")
      val matches =
        (vd === dt && vl === "" && callUDF("rdf_well_typed", $"v"("v"), lit(dt))) ||
          lit(dt == RDFS.LiteralC.value) ||
          (lit(dt == RDFS.Datatype.value) && vd =!= "") ||
          (lit(dt == XSD.string) && vd === "" && vl === "") ||
          (lit(dt == RDF.langString) && vl =!= "")
      finish(V.filter($"v"("k") =!= 2 || !matches), SH.DatatypeConstraintComponent, shape)

    case CNodeKind(kind) =>
      val allowed: Seq[Int] = kind match {
        case SH.IRIKind => Seq(0)
        case SH.BlankNode => Seq(1)
        case SH.LiteralKind => Seq(2)
        case SH.BlankNodeOrIRI => Seq(0, 1)
        case SH.BlankNodeOrLiteral => Seq(1, 2)
        case SH.IRIOrLiteral => Seq(0, 2)
        case _ => throw new ReportableError(s"Unknown sh:nodeKind $kind")
      }
      finish(V.filter(!$"v"("k").isin(allowed: _*)), SH.NodeKindConstraintComponent, shape)

    case CMinCount(n) =>
      if (n == 0) emptyViol // cardinality_constraints.py:102-104
      else {
        val cnt = V.groupBy($"f".as("_cf")).agg(count(lit(1)).as("_c"))
        // left join: foci with zero values must still report
        val bad = T0.join(cnt, T0("f") === cnt("_cf"), "left")
          .filter(coalesce($"_c", lit(0L)) < n).select(T0("f"))
        finish(bad, SH.MinCountConstraintComponent, shape)
      }

    case CMaxCount(n) =>
      val bad = V.groupBy($"f").agg(count(lit(1)).as("_c")).filter($"_c" > n).select($"f")
      finish(bad, SH.MaxCountConstraintComponent, shape)

    case CRange(op, bound, comp) =>
      val cmp = callUDF("rdf_cmp", $"v"("v"), $"v"("k"), $"v"("dt"), $"v"("lang"),
        lit(bound.lex), lit(bound.dt), lit(bound.lang))
      val ok = op match {
        case -2 => cmp > 0 // minExclusive
        case -1 => cmp >= 0 // minInclusive
        case 1 => cmp <= 0 // maxInclusive
        case 2 => cmp < 0 // maxExclusive
      }
      finish(V.filter(cmp.isNull || !ok), comp, shape)

    case CMinLength(n) =>
      if (n == 0) emptyViol // string_based_constraints.py len-0 always passes
      else finish(V.filter($"v"("k") === 1 || length(strCoerce($"v")) < n),
        SH.MinLengthConstraintComponent, shape)

    case CMaxLength(n) =>
      finish(V.filter($"v"("k") === 1 || length(strCoerce($"v")) > n),
        SH.MaxLengthConstraintComponent, shape)

    case CPattern(pattern, flags) =>
      // only flags Java's inline group supports survive; the reference
      // honors just i/m and ignores the rest (string_based_constraints.py).
      // The pattern itself goes through the Python→Java dialect translator.
      val jflags = flags.map(_.filter("imsx".contains(_))).filter(_.nonEmpty)
        .map(f => s"(?$f)").getOrElse("")
      val bad = V.filter($"v"("k") === 1 ||
        !strCoerce($"v").rlike(jflags + RegexDialect.pythonToJava(pattern)))
      finish(bad, SH.PatternConstraintComponent, shape)

    case CLanguageIn(langs) =>
      val vl = lower($"v"("lang"))
      val matched = langs.foldLeft(lit(false)) { (acc, l) =>
        if (l == "*") acc || (vl =!= "")
        else acc || vl === l.toLowerCase || vl.startsWith(l.toLowerCase + "-")
      }
      finish(V.filter(!($"v"("k") === 2 && matched)), SH.LanguageInConstraintComponent, shape)

    case CUniqueLang =>
      val bad = V.filter($"v"("k") === 2 && $"v"("lang") =!= "")
        .groupBy($"f", lower($"v"("lang")).as("_l")).agg(count(lit(1)).as("_c"))
        .filter($"_c" >= 2).select($"f")
      finish(bad, SH.UniqueLangConstraintComponent, shape)

    case CEquals(props) =>
      props.map { p =>
        val O = step(T0.select($"f", $"f".as("v")), PPred(p.value)).distinct()
          .select($"f".as("_of"), $"v".as("_ov"))
        val missV = V.join(O, V("f") === O("_of") && V("v") === O("_ov"), "left_anti")
        val missO = O.join(V, O("_of") === V("f") && O("_ov") === V("v"), "left_anti")
          .select($"_of".as("f"), $"_ov".as("v"))
        finish(missV.select($"f", $"v").unionByName(missO), SH.EqualsConstraintComponent, shape)
      }.reduce(_ unionByName _)

    case CDisjoint(props) =>
      props.map { p =>
        val O = step(T0.select($"f", $"f".as("v")), PPred(p.value)).distinct()
          .select($"f".as("_of"), $"v".as("_ov"))
        val common = V.join(O, V("f") === O("_of") && V("v") === O("_ov"), "left_semi")
        finish(common, SH.DisjointConstraintComponent, shape)
      }.reduce(_ unionByName _)

    case CLessThan(props, orEquals) =>
      val comp = if (orEquals) SH.LessThanOrEqualsConstraintComponent
                 else SH.LessThanConstraintComponent
      props.map { p =>
        val O = step(T0.select($"f", $"f".as("v")), PPred(p.value)).distinct()
          .select($"f".as("_of"), $"v".as("_ov"))
        val pairs = V.join(O, V("f") === O("_of")) // per-focus θ-join
        val bad = pairs.filter(callUDF("rdf_lt_violates",
          $"v"("v"), $"v"("k"), $"v"("dt"), $"v"("lang"),
          $"_ov"("v"), $"_ov"("k"), $"_ov"("dt"), $"_ov"("lang"), lit(orEquals)))
          .select($"f", $"v")
        finish(bad, comp, shape)
      }.reduce(_ unionByName _)

    case CNot(refs) =>
      refs.map { ref =>
        val nodes = V.select($"v".as("f")).distinct()
        val viol = violatorFoci(ref, "sh:not", nodes, stack, shape.id.key + "|not").
          select($"f".as("_vf"))
        // value CONFORMS to the sub-shape => violation
        val bad = V.join(viol, V("v") === $"_vf", "left_anti").select($"f", $"v")
        finish(bad, SH.NotConstraintComponent, shape)
      }.reduce(_ unionByName _)

    case CAnd(lists) =>
      lists.map { members =>
        val nodes = V.select($"v".as("f")).distinct()
        val anyViol = members.map(m =>
            violatorFoci(m, "sh:and", nodes, stack, shape.id.key + "|and"))
          .reduce(_ unionByName _).distinct().select($"f".as("_vf"))
        val bad = V.join(anyViol, V("v") === $"_vf", "left_semi").select($"f", $"v")
        finish(bad, SH.AndConstraintComponent, shape)
      }.reduce(_ unionByName _)

    case COr(lists) =>
      lists.map { members =>
        val nodes = V.select($"v".as("f")).distinct()
        // violates iff value fails EVERY member
        val bad = members.foldLeft(V.select($"f", $"v")) { (cur, m) =>
          val viol = violatorFoci(m, "sh:or", nodes, stack, shape.id.key + "|or")
            .select($"f".as("_vf"))
          cur.join(viol, cur("v") === $"_vf", "left_semi")
        }
        finish(bad, SH.OrConstraintComponent, shape)
      }.reduce(_ unionByName _)

    case CXone(lists) =>
      lists.map { members =>
        val nodes = V.select($"v".as("f")).distinct()
        val conformCounts = members.map { m =>
          val viol = violatorFoci(m, "sh:xone", nodes, stack, shape.id.key + "|xone")
            .select($"f".as("_vf"))
          nodes.join(viol, nodes("f") === $"_vf", "left_anti").select($"f".as("_cn"))
        }.reduce(_ unionByName _).groupBy($"_cn").agg(count(lit(1)).as("_cc"))
        val bad = V.join(conformCounts, V("v") === $"_cn", "left")
          .filter(coalesce($"_cc", lit(0L)) =!= 1).select($"f", $"v")
        finish(bad, SH.XoneConstraintComponent, shape)
      }.reduce(_ unionByName _)

    case CNode(refs) =>
      refs.map { ref =>
        val cs = childShape(ref, "sh:node")
        if (cs.isPropertyShape)
          throw new ReportableError("Shape pointed to by sh:node is not a well-formed SHACL NodeShape.")
        val edge = (shape.id.key + "|node", cs.id.key)
        if (stack.contains(edge)) emptyViol
        else if (stack.length >= opts.maxDepth)
          throw new ReportableError("Validation path too deep!")
        else {
          val nodes = V.select($"v".as("f")).distinct()
          // full child results: foci decide the parent violations, the rows
          // themselves nest under the parent via sh:detail
          // (shape_based_constraints.py:230-244)
          val childViol = violations(cs, nodes, edge :: stack)
          val violFoci = childViol.select($"f").distinct().select($"f".as("_vf"))
          val badPairs = V.join(violFoci, V("v") === $"_vf", "left_semi").select($"f", $"v")
          val ridExpr = concat_ws("|", lit(shape.id.key + "|node|" + cs.id.key),
            termKey($"f"), termKey($"v"))
          val parents = finish(badPairs.withColumn("rid", ridExpr),
            SH.NodeConstraintComponent, shape)
          val links = badPairs
            .select(termKey($"v").as("_lv"), ridExpr.as("_prid")).distinct()
          // child top-level rows attach to each matching parent; already-
          // nested child rows (their own sh:node details) pass through once
          val childTop = childViol.filter($"prid".isNull)
            .join(links, termKey(childViol("orig")) === $"_lv")
            .select(childViol("f"), childViol("v"), childViol("path"),
              childViol("comp"), childViol("shape"), childViol("orig"),
              childViol("constraint"), childViol("msgs"), childViol("rid"),
              $"_prid".as("prid"))
          val childNested = childViol.filter($"prid".isNotNull)
          parents.unionByName(childTop).unionByName(childNested)
        }
      }.reduce(_ unionByName _)

    case CProperty(refs) =>
      refs.map { ref =>
        val cs = childShape(ref, "sh:property")
        if (!cs.isPropertyShape)
          throw new ReportableError(s"'$ref' exists but is not a well-formed SHACL PropertyShape.")
        val edge = (shape.id.key + "|property", cs.id.key)
        if (stack.contains(edge)) emptyViol
        else if (stack.length >= opts.maxDepth) throw new ReportableError("Validation path too deep!")
        else {
          // Child reports pass through, once per parent (focus,value) pair —
          // a value shared by several foci yields duplicate results, like the
          // reference's per-pair recursion (shape_based_constraints.py:128-135;
          // see SHT core/property/property-001 which expects the duplicates).
          // sh:detail rows (nested focus as `orig`) pass through once, unchanged.
          val nodes = V.select($"v".as("f")).distinct()
          val childViol = violations(cs, nodes, edge :: stack)
          val parents = V.select($"f".as("_pf"), $"v".as("_pv"))
          val top = childViol("prid").isNull
          childViol.join(parents, top && childViol("orig") === $"_pv", "left")
            .filter(!top || $"_pf".isNotNull)
            .select(childViol("f"), childViol("v"), childViol("path"),
              childViol("comp"), childViol("shape"),
              when(top, $"_pf").otherwise(childViol("orig")).as("orig"),
              childViol("constraint"), childViol("msgs"),
              childViol("rid"), childViol("prid"))
        }
      }.reduce(_ unionByName _)

    case CQualified(ref, min, max, disjoint) =>
      val vals = V.select($"v".as("f")).distinct()
      val viol = violatorFoci(ref, "sh:qualifiedValueShape", vals, stack, shape.id.key + "|qvs")
        .select($"f".as("_vf"))
      var confV = V.join(viol, V("v") === $"_vf", "left_anti").select($"f", $"v")
      if (disjoint) {
        // sibling shapes: sh:property/sh:qualifiedValueShape of parents minus self
        // (shape_based_constraints.py:396-412)
        val siblings = sg.subjects(SH.property, shape.id).flatMap(p =>
          sg.objects(p, SH.property)).flatMap(ps =>
          sg.objects(ps, SH.qualifiedValueShape)).filter(_ != ref).toList.distinct
        for (sib <- siblings if shapes.contains(sib)) {
          val sibConf = vals.join(
            violatorFoci(sib, "sibling", vals, stack, shape.id.key + "|qvs-sib")
              .select($"f".as("_sf")), $"f" === $"_sf", "left_anti")
            .select($"f".as("_cf"))
          confV = confV.join(sibConf, confV("v") === $"_cf", "left_anti")
        }
      }
      val counts = confV.groupBy($"f".as("_qf")).agg(count(lit(1)).as("_qc"))
      val withC = T0.join(counts, T0("f") === $"_qf", "left")
        .select(T0("f"), coalesce($"_qc", lit(0L)).as("_qc"))
      val minViol = min.map(m => finish(withC.filter($"_qc" < m).select($"f"),
        SH.QualifiedMinCountConstraintComponent, shape))
      val maxViol = max.map(m => finish(withC.filter($"_qc" > m).select($"f"),
        SH.QualifiedMaxCountConstraintComponent, shape))
      (minViol.toList ++ maxViol.toList).reduceOption(_ unionByName _).getOrElse(emptyViol)

    case CClosed(ignored) =>
      // allowed predicates = sh:path IRIs of property shapes at this shape
      val propPaths = sg.objects(shape.id, SH.property)
        .flatMap(ps => sg.objects(ps, SH.path)).collect { case Iri(v) => v }.toSeq
      val allowed = (propPaths ++ ignored.collect { case Iri(v) => v }).distinct
      val subj = V.select($"f", $"v").filter($"v"("k") =!= 2)
      val tt = T.select($"s".as("_ts"), $"p".as("_tp"), $"o".as("_to"))
      val offending = subj.join(tt, subj("v") === tt("_ts"))
        .filter(!$"_tp".isin(allowed: _*))
        .filter(!($"_tp" === RDF.ty.value && $"_to"("k") === 0 && $"_to"("v") === RDFS.Resource.value))
      val rows = offending.select($"f", $"_to".as("v"),
        concat(lit("<"), $"_tp", lit(">")).as("path"))
      finish(rows, SH.ClosedConstraintComponent, shape)

    case CHasValue(values) =>
      values.map { hv =>
        val present = V.filter(termKey($"v") === hv.key).select($"f".as("_pf")).distinct()
        val bad = T0.join(present, T0("f") === $"_pf", "left_anti").select($"f")
        finish(bad, SH.HasValueConstraintComponent, shape)
      }.reduce(_ unionByName _)

    case CIn(values) =>
      val keys = values.map(_.key)
      finish(V.filter(!termKey($"v").isin(keys: _*)), SH.InConstraintComponent, shape)

    case CSparql(cs) =>
      cs.filterNot(_.deactivated).map(evalSparqlConstraint(shape, T0, _))
        .reduceOption(_ unionByName _).getOrElse(emptyViol)

    case CCustom(b) => evalCustomComponent(shape, V, b)

    case CExpression(exprs) =>
      // sh:expression: per value v, the node expression evaluated with v as
      // focus must return exactly {true} (constraints/advanced/__init__.py:26-94)
      val compiler = new ShapeCompiler(sg)
      exprs.map { en =>
        val ir = NodeExprIR.parse(sg, compiler, en)
        val nodes = V.select($"v".as("f")).distinct()
        val res = RulesEngine.evalExpr(this, nodes, ir)
        val isTrue = res("v")("k") === 2 && res("v")("v") === "true" &&
          res("v")("dt") === XSD.boolean
        val agg = res.groupBy(res("f").as("_ef"))
          .agg(count(lit(1)).as("_ec"), sum(when(isTrue, 1L).otherwise(0L)).as("_et"))
        val bad = V.join(agg, V("v") === $"_ef", "left")
          .filter(!(coalesce($"_ec", lit(0L)) === 1L && coalesce($"_et", lit(0L)) === 1L))
          .select($"f", $"v")
          .withColumn("constraint", lit(en.key))
        finish(bad, SH.ExpressionConstraintComponent, shape)
      }.reduce(_ unionByName _)
  }

  // ---------------------------------------------------------------------
  // SHACL-SPARQL (sh:sparql + custom constraint components)
  // ---------------------------------------------------------------------
  lazy val fnsByIri: Map[String, ShaclFnDef] =
    functions.map { case (k, v) => (k match { case Iri(x) => x; case o => o.key }, v) }

  /** shapes graph as a triples frame (for GRAPH $shapesGraph patterns —
    * supported here; the reference raises NotImplementedError). */
  private lazy val shapesTriplesDF: DataFrame = TriplesDF.fromMemGraph(spark, sg)

  private def sparqlFrame(shape: ShapeIR): SparqlFrame =
    new SparqlFrame(spark, T, step, fnsByIri, shape.path, Some(shapesTriplesDF),
      maxPathDepth = opts.maxPathDepth)

  /** One sh:sparql SELECT constraint over the focus set
    * (sparql_based_constraints.py:96-193): violations are the query's
    * result rows; projected ?this/?path/?value refine focus / result path /
    * value, with the reference's defaulting rules. */
  private def evalSparqlConstraint(shape: ShapeIR, T0: DataFrame,
                                   c: SparqlConstraintIR): DataFrame = {
    // $shapesGraph is supported (GRAPH blocks match the shapes frame)
    Sparql.checkPreBinding(c.select, valueBound = false, Set.empty)
    val q = Sparql.parseQuery(c.select, c.prefixes) match {
      case s: Sparql.SqSelect => s
      case _ => throw new ReportableError("sh:select must contain a SELECT query")
    }
    val frame = sparqlFrame(shape)
    val mentionsCS = Sparql.mentionsVar(c.select, "currentShape")
    var seedDf = T0.select($"f".as("this"))
    var seedVars = Set("this")
    if (mentionsCS) {
      seedDf = seedDf.withColumn("currentShape", termLit(shape.id))
      seedVars += "currentShape"
    }
    val res = frame.evalSelect(q, frame.sol(seedDf, seedVars), keep = Set("this"))
    val df = res.df.distinct()
    val hasPath = res.vars.contains("path")
    val hasValue = res.vars.contains("value")
    val hasFailure = res.vars.contains("failure")
    val pathDefault = shape.pathNode.map(n => lit(n.key)).getOrElse(lit(null).cast(StringType))
    val valueDefault = if (shape.isPropertyShape) nullTerm else col("this")
    def emit(rows: DataFrame, useVars: Boolean): DataFrame = {
      val vCol =
        if (useVars && hasValue) coalesce(col("value"), valueDefault) else valueDefault
      val pCol =
        if (useVars && hasPath)
          coalesce(when(col("path").isNotNull, termKey(col("path"))), pathDefault)
        else pathDefault
      rows.select(col("this").as("f"), vCol.as("v"), pCol.as("path"),
        lit(SH.SPARQLConstraintComponent.value).as("comp"),
        lit(shape.id.key).as("shape"), col("this").as("orig"),
        lit(c.node.key).as("constraint"),
        msgsSubst(c.messages, rows.columns.toSet).as("msgs"),
        lit(null).cast(StringType).as("rid"), lit(null).cast(StringType).as("prid"))
    }
    if (!hasFailure) emit(df, useVars = true)
    else {
      // ?failure bound → one generic failure result per focus
      val fails = df.filter(col("failure").isNotNull)
        .select(col("this")).distinct().select(col("this"))
      emit(fails, useVars = false)
        .unionByName(emit(df.filter(col("failure").isNull), useVars = true))
    }
  }

  /** A custom constraint component's validator applied to the (focus,
    * value) pairs (sparql_based_constraint_components.py:128-250): ASK
    * validators pass iff the query answers true per pair; SELECT validators
    * report each result row. */
  private def evalCustomComponent(shape: ShapeIR, V: DataFrame,
                                  b: BoundValidatorIR): DataFrame = {
    // $shapesGraph is supported (GRAPH blocks match the shapes frame)
    Sparql.checkPreBinding(b.query, valueBound = true, b.paramBinds.keySet)
    val frame = sparqlFrame(shape)
    val mentionsCS = Sparql.mentionsVar(b.query, "currentShape")
    var seedDf = V.select($"f".as("this"), $"v".as("value"))
    var seedVars = Set("this", "value")
    for ((name, value) <- b.paramBinds.toSeq.sortBy(_._1)) {
      seedDf = seedDf.withColumn(name, termLit(value))
      seedVars += name
    }
    if (mentionsCS) {
      seedDf = seedDf.withColumn("currentShape", termLit(shape.id))
      seedVars += "currentShape"
    }
    val seed = frame.sol(seedDf, seedVars)
    val compIri = b.componentNode match { case Iri(x) => x; case o => o.key }
    val pathDefault = shape.pathNode.map(n => lit(n.key)).getOrElse(lit(null).cast(StringType))
    val reportVal = if (shape.isPropertyShape) nullTerm else col("value")
    val msgs = msgsLit(
      if (b.messages.nonEmpty) b.messages
      else List(Lit("Parameterised SHACL Query generated constraint validation reports.")))
    if (b.isAsk) {
      val q = Sparql.parseQuery(b.query, b.prefixes) match {
        case a: Sparql.SqAsk => a
        case _ => throw new ReportableError("sh:ask must contain an ASK query")
      }
      val ok = frame.evalAsk(q, seed).df
        .select(col("this").as("_ot"), col("value").as("_ov"))
      val bad = seedDf.join(ok, seedDf("this") === col("_ot") && seedDf("value") === col("_ov"),
        "left_anti")
      bad.select(col("this").as("f"), reportVal.as("v"), pathDefault.as("path"),
        lit(compIri).as("comp"), lit(shape.id.key).as("shape"), col("this").as("orig"),
        lit(null).cast(StringType).as("constraint"), msgs.as("msgs"),
        lit(null).cast(StringType).as("rid"), lit(null).cast(StringType).as("prid"))
    } else {
      val q = Sparql.parseQuery(b.query, b.prefixes) match {
        case s: Sparql.SqSelect => s
        case _ => throw new ReportableError("sh:select must contain a SELECT query")
      }
      val res = frame.evalSelect(q, seed, keep = Set("this", "value"))
      val df = res.df.distinct()
      // `this`/`value` double as attribution keys (keep) — consult the
      // declared projection to apply the reference's defaulting rules
      val projected: Set[String] = q.proj.flatMap {
        case Sparql.PVar(x) => Seq(x)
        case Sparql.PExpr(_, as) => Seq(as)
        case Sparql.PStar => res.vars.toSeq
      }.toSet
      val hasPath = projected.contains("path")
      val vCol =
        if (projected.contains("value")) coalesce(col("value"), reportVal) else reportVal
      val pCol =
        if (hasPath) coalesce(when(col("path").isNotNull, termKey(col("path"))), pathDefault)
        else pathDefault
      df.select(col("this").as("f"), vCol.as("v"), pCol.as("path"),
        lit(compIri).as("comp"), lit(shape.id.key).as("shape"), col("this").as("orig"),
        lit(null).cast(StringType).as("constraint"),
        msgsSubst(
          if (b.messages.nonEmpty) b.messages
          else List(Lit("Parameterised SHACL Query generated constraint validation reports.")),
          df.columns.toSet).as("msgs"),
        lit(null).cast(StringType).as("rid"), lit(null).cast(StringType).as("prid"))
    }
  }

  /** Public conformance helper (used by the rules engine's sh:filterShape):
    * distinct foci of `nodes` that fail shape `ref`. */
  def violatorsOf(ref: Node, nodes: DataFrame): DataFrame =
    violations(childShape(ref, "sh:filterShape"), nodes).select($"f").distinct()

  private def focusFilter(t: DataFrame): DataFrame = opts.focusNodes match {
    case Some(irises) => t.filter($"f"("k") === 0 && $"f"("v").isin(irises.toSeq: _*))
    case None => t
  }

  /** Top-level shapes to validate, in deterministic order; use_shapes
    * (validator.py:237-255) restricts to the named shape IRIs. */
  private def selectedShapes: Seq[ShapeIR] = {
    val base = shapes.values.toSeq.sortBy(_.id.key)
    opts.useShapes match {
      case Some(sel) => base.filter(_.id match { case Iri(v) => sel.contains(v); case _ => false })
      case None => base
    }
  }

  /** Top-level run: every shape in the cache validates against its own
    * targets (validator.py:332-337). Returns the collected result rows:
    * the whole violationsFrame(), or with abortOnFirst the first
    * violation only. */
  def run(): Seq[ResultRow] = {
    if (!opts.abortOnFirst) return violationsFrame().collect().toSeq.map(ResultRow.of)
    // short-circuit: evaluate shape by shape, stop at the first
    // violation — a LIMIT-1 existence probe, not a full evaluation
    // (validator.py:336-337 abort_on_first)
    val buf = scala.collection.mutable.ListBuffer.empty[Row]
    val it = selectedShapes.iterator
    while (it.hasNext && buf.isEmpty) {
      val shape = it.next()
      if (!shape.deactivated)
        targetsDF(shape).map(focusFilter).foreach { t =>
          buf ++= violations(shape, trackCp(t.localCheckpoint())).limit(1).collect()
        }
    }
    buf.toSeq.map(ResultRow.of)
  }

  /** At-scale entry point: the union of every shape's violations as a
    * DataFrame — nothing is collected to the driver. Columns: f, v, path,
    * comp, shape, orig, constraint, msgs, rid, prid (term structs / keys).
    * The frame carries a lazy tracked localCheckpoint: under AQE (which
    * every session of this project enables) this call already plans the
    * union and runs its shuffle-map stages as jobs; the first action on the frame runs the
    * final stage once and stores the rows, later actions (counts,
    * samples, report triples) read the stored blocks, and close() frees
    * them. Callers aggregate counts, take bounded samples, or write report
    * triples distributed; see Validator.validateFrameAtScale. */
  def violationsFrame(): DataFrame = {
    val parts = selectedShapes.flatMap { shape =>
      if (shape.deactivated) None
      else targetsDF(shape).map(t => violations(shape, focusFilter(t)))
    }
    if (parts.isEmpty) emptyViol
    else trackCp(parts.reduce(_ unionByName _).localCheckpoint(eager = false))
  }

  /** Severity of a shape key (driver-side metadata for at-scale counts). */
  def severityOf(shapeKey: String): Iri =
    shapes.values.find(_.id.key == shapeKey).map(_.severity).getOrElse(SH.Violation)
}

final case class ResultRow(
  focus: Node,
  value: Option[Node],
  pathKey: Option[String],
  component: Iri,
  shapeKey: String,
  constraintKey: Option[String] = None,
  /** constraint-scoped message override (SPARQL constraints/components) */
  messages: List[Lit] = Nil,
  /** sh:detail nesting: id of this result / of the parent it nests under */
  rid: Option[String] = None,
  parentRid: Option[String] = None) {
  def isDetail: Boolean = parentRid.isDefined
}

object ResultRow {
  /** The result a row of [[ValidationEngine.violationsFrame]] describes. */
  def of(r: Row): ResultRow =
    ResultRow(
      focus = TriplesDF.nodeOf(r.getStruct(0)),
      value = Option(r.getStruct(1)).map(TriplesDF.nodeOf),
      pathKey = Option(r.getString(2)),
      component = Iri(r.getString(3)),
      shapeKey = r.getString(4),
      constraintKey = Option(r.getString(6)),
      messages = Option(r.getSeq[Row](7)).map(_.toList.map(m =>
        TriplesDF.nodeOf(m) match { case l: Lit => l; case o => Lit(o.key) }))
        .getOrElse(Nil),
      rid = Option(r.getString(8)),
      parentRid = Option(r.getString(9)))
}
