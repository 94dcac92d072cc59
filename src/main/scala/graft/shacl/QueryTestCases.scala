package graft.shacl

import graft.rdf._
import graft.rdf.Json._
import org.apache.spark.sql.SparkSession

/** dash:QueryTestCase runner — the reference's evaluate_query_testcase
  * (/root/reference/pyshacl/validator_conformance.py:260-400): run the
  * sh:select query over the graph and compare against the
  * dash:expectedResult SPARQL-Results-JSON literal (vars as a set, rows as
  * an ordered list, term-equal bindings). */
object QueryTestCases {

  final class QueryTestError(msg: String) extends RuntimeException(msg)

  // ------------------------------------------- SPARQL Results JSON decode
  final case class Expected(vars: Set[String], rows: List[Map[String, Node]])

  def parseExpected(json: String): Expected = {
    val root = Json.parse(json) match {
      case o: JObj => o
      case _ => throw new QueryTestError("expected JSON object")
    }
    val vars = root.m.get("head") match {
      case Some(JObj(h)) => h.get("vars") match {
        case Some(JArr(vs)) => vs.collect { case JStr(v) => v }.toSet
        case _ => throw new QueryTestError("missing head.vars")
      }
      case _ => throw new QueryTestError("missing head")
    }
    val rows = root.m.get("results") match {
      case Some(JObj(r)) => r.get("bindings") match {
        case Some(JArr(bs)) => bs.map {
          case JObj(b) => b.map { case (k, v) => k -> bindingToNode(v) }
          case _ => throw new QueryTestError("binding must be an object")
        }
        case _ => throw new QueryTestError("missing results.bindings")
      }
      case _ => throw new QueryTestError("missing results")
    }
    Expected(vars, rows)
  }

  private def bindingToNode(j: J): Node = j match {
    case JObj(m) =>
      def s(k: String): Option[String] = m.get(k).collect { case JStr(x) => x }
      (s("type"), s("value")) match {
        case (Some("uri"), Some(v)) => Iri(v)
        case (Some("bnode"), Some(v)) => BNode(v)
        case (Some("literal") | Some("typed-literal"), Some(v)) =>
          Lit(v, s("datatype").getOrElse(""), s("xml:lang").getOrElse(""))
        case _ => throw new QueryTestError(s"bad binding $m")
      }
    case _ => throw new QueryTestError("binding value must be an object")
  }

  // ----------------------------------------------------------- evaluate
  /** Run one dash:QueryTestCase; returns (matches, detail). Throws on
    * invalid query / malformed JSON (the fixture set expects that). */
  def evaluate(spark: SparkSession, g: MemGraph, docPrefixes: Map[String, String],
               tc: Node): (Boolean, String) = {
    val select = g.value(tc, SH.select) match {
      case Some(Lit(lex, _, _)) => lex
      case _ => throw new QueryTestError(s"QueryTestCase $tc missing sh:select property.")
    }
    val expectedJson = g.value(tc, Iri(ShtSuite.DASHNS + "expectedResult")) match {
      case Some(Lit(lex, _, _)) => lex
      case _ => throw new QueryTestError(s"QueryTestCase $tc missing dash:expectedResult property.")
    }
    val expected = parseExpected(expectedJson)
    // rdflib injects the document's own namespace bindings into queries;
    // sh:declare prefixes stack on top (extract_query_and_expected_result)
    val prefixes = docPrefixes ++ Sparql.collectPrefixes(g, tc)
    val q = Sparql.parseQuery(select, prefixes) match {
      case s: Sparql.SqSelect => s
      case _ => throw new QueryTestError("QueryTestCase sh:select must be a SELECT query")
    }
    val T = TriplesDF.fromMemGraph(spark, g)
    val frame = new SparqlFrame(spark, T, PathEval.step(T, _, _), Map.empty, None)
    val res = frame.evalSelect(q, frame.unitSeed)
    val vars = res.vars.filterNot(_.startsWith("__")).toSeq.sorted
    if (vars.toSet != expected.vars)
      return (false, s"SPARQL result variable lists differ: expected " +
        s"${expected.vars.mkString(", ")}, got ${vars.mkString(", ")}.")
    val rows = frame.collect(res, vars)
    if (rows.size != expected.rows.size)
      return (false, s"SPARQL result length mismatch: expected ${expected.rows.size}, got ${rows.size}.")
    val mismatch = rows.zip(expected.rows).zipWithIndex.collectFirst {
      case ((a, e), i) if !rowEq(a, e) => s"row $i differs: actual $a vs expected $e"
    }
    mismatch match {
      case Some(m) => (false, m)
      case None => (true, "")
    }
  }

  private def rowEq(a: Map[String, Node], e: Map[String, Node]): Boolean =
    a.keySet == e.keySet && a.forall { case (k, v) =>
      e(k) == v || ((v, e(k)) match {
        case (l1: Lit, l2: Lit) => LitCompare.valueEq(l1, l2)
        case _ => false
      })
    }
}
