package graft.shacl

import graft.rdf._
import scala.collection.mutable

/** Validation-report construction + the conformance comparator.
  *
  * Builder mirrors make_v_result
  * (/root/reference/pyshacl/constraints/constraint_component.py:221-298):
  * each result gets type/sourceConstraintComponent/sourceShape/severity/
  * focusNode/value/resultPath/resultMessage, with bnodes (and their CBDs)
  * cloned id-preserving into the report graph
  * (/root/reference/pyshacl/validator.py:128-151).
  *
  * Comparator mirrors compare_validation_reports + clean_validation_reports
  * (/root/reference/pyshacl/validator_conformance.py:40-189) and the
  * bnode-structural compare (/root/reference/pyshacl/rdfutil/compare.py).
  */
object ReportBuilder {

  def keyToNode(key: String, shapes: Map[Node, ShapeIR]): Node =
    if (key.startsWith("_:") || key.startsWith("<")) Node.fromKey(key)
    else shapes.keys.find(_.key == key).getOrElse(Iri(key))

  def build(
      results: Seq[ResultRow],
      shapes: Map[Node, ShapeIR],
      sg: MemGraph,
      dataCbd: Node => Seq[Triple],
      conformsOverride: Option[Boolean] = None): (Boolean, MemGraph, Node) = {
    val g = new MemGraph
    val report = BNode("vreport")
    val conforms = conformsOverride.getOrElse(results.isEmpty)
    g.add(report, RDF.ty, SH.ValidationReport)
    g.add(report, SH.conforms, Lit(conforms.toString, XSD.boolean))
    val shapesByKey: Map[String, ShapeIR] = shapes.values.map(s => s.id.key -> s).toMap

    // sh:detail nesting: rid names a result node; detail rows hang off
    // their parent instead of the report (shape_based_constraints.py:230-244)
    val ridToBnode: Map[String, BNode] = results.zipWithIndex.collect {
      case (r, i) if r.rid.isDefined => r.rid.get -> BNode(s"vr$i")
    }.toMap

    results.zipWithIndex.foreach { case (r, i) =>
      val rn = BNode(s"vr$i")
      r.parentRid.flatMap(ridToBnode.get) match {
        case Some(parent) => g.add(parent, SH.detail, rn)
        case None => g.add(report, SH.result, rn)
      }
      g.add(rn, RDF.ty, SH.ValidationResult)
      g.add(rn, SH.sourceConstraintComponent, r.component)
      val shapeIr = shapesByKey.get(r.shapeKey)
      val shapeNode = keyToNode(r.shapeKey, shapes)
      g.add(rn, SH.sourceShape, shapeNode)
      shapeNode match {
        case b: BNode => g.addAll(sg.cbd(b))
        case _ =>
      }
      g.add(rn, SH.resultSeverity, shapeIr.map(_.severity).getOrElse(SH.Violation))
      g.add(rn, SH.focusNode, r.focus)
      r.focus match { case b: BNode => g.addAll(dataCbd(b)); case _ => }
      r.value.foreach { v =>
        g.add(rn, SH.value, v)
        v match { case b: BNode => g.addAll(dataCbd(b)); case _ => }
      }
      r.pathKey.foreach { pk =>
        val pn = Node.fromKey(pk)
        g.add(rn, SH.resultPath, pn)
        pn match { case b: BNode => g.addAll(sg.cbd(b)); case _ => }
      }
      r.constraintKey.foreach { ck =>
        val cn = Node.fromKey(ck)
        g.add(rn, SH.sourceConstraint, cn)
        cn match { case b: BNode => g.addAll(sg.cbd(b)); case _ => }
      }
      // constraint-scoped messages (SPARQL constraints/components) override
      // shape messages (make_v_result extra_messages handling)
      val msgs =
        if (r.messages.nonEmpty) r.messages
        else shapeIr.map(_.messages).getOrElse(Nil)
      if (msgs.nonEmpty) msgs.foreach(m => g.add(rn, SH.resultMessage, m))
      else shapeIr.flatMap(si =>
        GenericMessages.forResult(si, r.component, r.value, r.pathKey))
        .foreach(m => g.add(rn, SH.resultMessage, Lit(m)))
    }
    (conforms, g, report)
  }

  /** The reference's text report names the constraint CLASS, which differs
    * from the component IRI for qualified counts and custom components
    * (constraint_name(); shape_based_constraints.py:260-262). */
  private def textName(comp: Iri): String = comp match {
    case SH.QualifiedMinCountConstraintComponent |
         SH.QualifiedMaxCountConstraintComponent => "QualifiedValueShapeConstraintComponent"
    case Iri(v) if !v.startsWith(SH.ns) => "ConstraintComponent"
    case Iri(v) => v.split('#').last
  }

  /** CURIE rendering for report text (stringify.py:28-80 renders via the
    * graph's namespace manager): longest matching bound namespace wins;
    * IRIs with no binding (or a non-PN local part) keep `<...>` form. */
  private def curie(prefixes: Map[String, String], iri: String): String =
    prefixes.toSeq.filter { case (_, ns) => ns.nonEmpty && iri.startsWith(ns) }
      .sortBy(-_._2.length).headOption match {
      case Some((p, ns)) =>
        val local = iri.stripPrefix(ns)
        if (local.nonEmpty && !local.exists(c => "/#<>\"{}|^`\\ ".contains(c)))
          s"$p:$local"
        else s"<$iri>"
      case None => s"<$iri>"
    }

  private def pn(prefixes: Map[String, String], n: Node): String = n match {
    case Iri(v) => curie(prefixes, v)
    case other => other.toString
  }

  /** Term-key string ("<iri>" / "_:b" / literal key) -> display form. */
  private def pnKey(prefixes: Map[String, String], key: String): String =
    if (key.startsWith("<") && key.endsWith(">"))
      curie(prefixes, key.drop(1).dropRight(1))
    else key

  /** Deterministic plain-text report (validator.py:114-152, sorted). Bound
    * prefixes render IRIs as CURIEs like the reference's stringify. */
  def text(conforms: Boolean, results: Seq[ResultRow], shapes: Map[Node, ShapeIR],
           prefixes: Map[String, String] = Map.empty): String = {
    if (conforms) "Validation Report\nConforms: True\n"
    else {
      val lines = results.map { r =>
        val si = shapes.values.find(_.id.key == r.shapeKey)
        val msgs =
          (if (r.messages.nonEmpty) Some(r.messages.map(_.lex)) else None)
            .orElse(si.map(_.messages).filter(_.nonEmpty).map(_.map(_.lex)))
            .orElse(si.flatMap(x =>
              GenericMessages.forResult(x, r.component, r.value, r.pathKey)).map(List(_)))
            .getOrElse(Nil)
        s"Constraint Violation in ${textName(r.component)} (${r.component}):\n" +
          s"\tSeverity: ${pnKey(prefixes, si.map(_.severity.key).getOrElse(SH.Violation.key))}\n" +
          s"\tSource Shape: ${pnKey(prefixes, r.shapeKey)}\n" +
          s"\tFocus Node: ${pn(prefixes, r.focus)}\n" +
          r.value.map(v => s"\tValue Node: ${pn(prefixes, v)}\n").getOrElse("") +
          r.pathKey.map(p => s"\tResult Path: ${pnKey(prefixes, p)}\n").getOrElse("") +
          msgs.sorted.map(m => s"\tMessage: $m\n").mkString
      }.sorted
      s"Validation Report\nConforms: False\nResults (${results.size}):\n" + lines.mkString
    }
  }
}

object ReportCompare {

  /** Value-or-term equality for literals in structural compare
    * (compare.py:179-203 compare_literal). */
  private def litEq(a: Lit, b: Lit): Boolean =
    (a == b) ||
      (a.lang.equalsIgnoreCase(b.lang) && LitCompare.valueEq(a, b))

  def compareNode(g1: MemGraph, n1: Node, g2: MemGraph, n2: Node, depth: Int = 0): Boolean =
    (n1, n2) match {
      case (a: Lit, b: Lit) => litEq(a, b)
      case (a: Iri, b: Iri) => a == b
      case (a: BNode, b: BNode) => compareBlank(g1, a, g2, b, depth)
      case _ => false
    }

  /** Unordered list compare (compare.py compare_list). */
  private def compareList(g1: MemGraph, l1: Node, g2: MemGraph, l2: Node, depth: Int): Boolean = {
    val items1 = g1.items(l1)
    val items2 = mutable.ListBuffer.empty[Node] ++= g2.items(l2)
    if (items1.size != items2.size) return false
    items1.forall { i1 =>
      items2.indexWhere(i2 => compareNode(g1, i1, g2, i2, depth + 1)) match {
        case -1 => false
        case idx => items2.remove(idx); true
      }
    }
  }

  /** Symmetric structural bnode compare (compare.py:19-176), ignoring
    * rdf:type rdfs:Resource objects; recursion cap 10. `why` (top-level
    * calls only) records the first mismatching predicate/object. */
  def compareBlank(g1: MemGraph, b1: BNode, g2: MemGraph, b2: BNode, depth: Int = 0,
                   why: StringBuilder = new StringBuilder): Boolean = {
    if (depth >= 10) return false
    val ps1 = g1.predicates(b1).toSet
    val ps2 = g2.predicates(b2).toSet
    if (ps1.isEmpty && ps2.isEmpty) return true
    if (ps1.isEmpty || ps2.isEmpty) { why.append(s"one side empty: $b1 vs $b2\n"); return false }
    val isL1 = ps1.contains(RDF.first); val isL2 = ps2.contains(RDF.first)
    if (isL1 && isL2) return compareList(g1, b1, g2, b2, depth)
    if (isL1 || isL2) { why.append(s"list vs non-list: $b1 vs $b2\n"); return false }

    def oneDirection(ga: MemGraph, ba: BNode, psa: Set[Iri], gb: MemGraph, bb: BNode,
                     psb: Set[Iri], dir: String): Boolean =
      psa.forall { p =>
        if (!psb.contains(p)) {
          why.append(s"$dir: predicate $p on $ba missing on $bb\n")
          false
        } else {
          val oa = ga.objects(ba, p).filter(_ != RDFS.Resource).toList
          val ob = mutable.ListBuffer.empty[Node] ++= gb.objects(bb, p)
          oa.forall { o1 =>
            ob.indexWhere(o2 => compareNode(ga, o1, gb, o2, depth + 1)) match {
              case -1 =>
                why.append(
                  s"$dir: $ba $p ${keyString(ga, o1, structural = true)} unmatched " +
                    s"(candidates: ${ob.map(keyString(gb, _, structural = true)).mkString(" | ")})\n")
                false
              case idx => ob.remove(idx); true
            }
          }
        }
      }
    oneDirection(g1, b1, ps1, g2, b2, ps2, "a->e") &&
      oneDirection(g2, b2, ps2, g1, b1, ps1, "e->a")
  }

  /** Structural stringification of a node for result keying, playing the
    * role of stringify_node (validator_conformance.py:134-189): literals ->
    * lexical form, bnodes -> "BNode", IRIs -> <iri>; except paths, where
    * bnode structures render deterministically so equal structures collide. */
  def keyString(g: MemGraph, n: Node, structural: Boolean): String = n match {
    case l: Lit => l.lex
    case Iri(v) => s"<$v>"
    case b: BNode =>
      if (!structural) "BNode"
      else if (g.isList(b)) g.items(b).map(keyString(g, _, structural = true)).mkString("( ", " ", " )")
      else g.predicateObjects(b).toList
        .map { case (p, o) => s"<${p.value}> ${keyString(g, o, structural = true)}" }
        .sorted.mkString("[ ", " ; ", " ]")
  }

  private def resultKey(g: MemGraph, result: Node): (String, String, String) = {
    def one(p: Iri, structural: Boolean): String =
      g.objects(result, p).nextOption().map(keyString(g, _, structural)).getOrElse("")
    (one(SH.focusNode, structural = false),
      one(SH.value, structural = false),
      one(SH.resultPath, structural = true))
  }

  /** clean_validation_reports (validator_conformance.py:40-77). */
  def clean(actual: MemGraph, actualReport: Node, expected: MemGraph, expectedReport: Node): Unit = {
    expected.remove(None, Some(RDF.ty), Some(RDFS.Resource))
    actual.remove(None, Some(RDF.ty), Some(RDFS.Resource))
    val expectedResults = expected.objects(expectedReport, SH.result).toList
    val actualResults = actual.objects(actualReport, SH.result).toList
    val erHasMessages = expectedResults.exists(er => expected.objects(er, SH.resultMessage).nonEmpty)
    val erHasDetails = expectedResults.exists(er => expected.objects(er, SH.detail).nonEmpty)
    if (!erHasMessages)
      actualResults.foreach(ar => actual.remove(Some(ar), Some(SH.resultMessage), None))
    if (!erHasDetails)
      actualResults.foreach { ar =>
        actual.objects(ar, SH.detail).toList.foreach { d =>
          actual.cbd(d).foreach(t => actual.remove(Some(t.s), Some(t.p), Some(t.o)))
          actual.remove(Some(ar), Some(SH.detail), Some(d))
        }
      }
  }

  /** compare_validation_reports (validator_conformance.py:80-189). */
  def compare(actual: MemGraph, expected: MemGraph, expectedReport: Node,
              log: StringBuilder = new StringBuilder): Boolean = {
    val reports = actual.subjects(RDF.ty, SH.ValidationReport).toList
    if (reports.size != 1) { log.append("no unique ValidationReport in actual\n"); return false }
    val actualReport = reports.head
    clean(actual, actualReport, expected, expectedReport)

    (actualReport, expectedReport) match {
      case (a: BNode, e: BNode) =>
        val why = new StringBuilder
        if (!compareBlank(actual, a, expected, e, why = why)) {
          log.append(s"structural report compare failed: $why\n"); return false
        }
      case _ =>
    }
    val expConf = expected.objects(expectedReport, SH.conforms).collectFirst {
      case Lit(lex, _, _) => lex == "true" || lex == "1"
    }
    val actConf = actual.objects(actualReport, SH.conforms).collectFirst {
      case Lit(lex, _, _) => lex == "true" || lex == "1"
    }
    if (expConf != actConf) { log.append(s"conforms mismatch: $actConf vs $expConf\n"); return false }

    val expectedResults = expected.objects(expectedReport, SH.result).toList
    val actualResults = actual.objects(actualReport, SH.result).toList
    if (expectedResults.size != actualResults.size) {
      log.append(s"result count mismatch: actual ${actualResults.size} vs expected ${expectedResults.size}\n")
      return false
    }
    val expKeys = expectedResults.map(resultKey(expected, _)).toSet
    val actKeys = actualResults.map(resultKey(actual, _)).toSet
    val missing = expKeys.diff(actKeys)
    if (missing.nonEmpty) {
      log.append(s"expected results not found: $missing\nactual keys: $actKeys\n")
      return false
    }
    true
  }
}
