package graft.shacl

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.rdf._

/** SHACL-level sh:sparql constraints over the two pre-bound handles the
  * SHACL Recommendation defines beyond $this (§5.3.1 "Pre-bound
  * Variables in SPARQL Constraints"): $PATH, the property shape's path
  * substituted into the query, and $shapesGraph, the shapes graph as a
  * GRAPH target. Each expected result is written out from §5.3.2
  * "Mapping of Solution Bindings to Result Properties": focus = $this,
  * value = ?value, path = ?path or else the shape's sh:path, source shape
  * = the shape that declares the constraint, component
  * sh:SPARQLConstraintComponent. */
class SparqlConstraintSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val ex = "http://ex.org/"

  val prelude =
    s"""@prefix ex: <$ex> .
       |@prefix sh: <http://www.w3.org/ns/shacl#> .
       |""".stripMargin

  def results(data: String, shapes: String): (Boolean, Set[ResultRow]) = {
    val out = Validator.validateGraph(spark,
      TurtleParser.parseGraph(prelude + data, "http://test/"),
      Some(TurtleParser.parseGraph(prelude + shapes, "http://test/")))
    // the constraint node is a blank node and messages are checked
    // elsewhere: compare what §5.3.2 fixes
    (out.conforms, out.results.map(_.copy(constraintKey = None, messages = Nil)).toSet)
  }

  test("sh:sparql with $PATH on a property shape reports focus, path and value") {
    // the Recommendation's language example (§5.1), moved onto a property
    // shape so the path reaches the query as $PATH
    val (conforms, rows) = results(
      """ex:ValidCountry a ex:Country ; ex:germanLabel "Spanien"@de .
        |ex:InvalidCountry a ex:Country ; ex:germanLabel "Spain"@en , "Spanien"@de .
        |""".stripMargin,
      s"""ex:GermanLabelShape a sh:PropertyShape ;
         |  sh:targetClass ex:Country ;
         |  sh:path ex:germanLabel ;
         |  sh:sparql [
         |    sh:message "Values are literals with German language tag." ;
         |    sh:select ""\"
         |      SELECT $$this ?value WHERE {
         |        $$this $$PATH ?value .
         |        FILTER (!isLiteral(?value) || !langMatches(lang(?value), "de"))
         |      }""\" ;
         |  ] .
         |""".stripMargin)
    assert(!conforms)
    assert(rows == Set(ResultRow(
      focus = Iri(ex + "InvalidCountry"),
      value = Some(Lit("Spain", lang = "en")),
      pathKey = Some(Iri(ex + "germanLabel").key),
      component = SH.SPARQLConstraintComponent,
      shapeKey = Iri(ex + "GermanLabelShape").key)))
  }

  test("sh:sparql reading GRAPH $shapesGraph reports the values the shapes graph lacks") {
    // the allowed values live on the shape itself, in the shapes graph;
    // the data graph has no ex:allowedStatus triples at all
    val (conforms, rows) = results(
      """ex:i1 a ex:Ticket ; ex:status ex:open .
        |ex:i2 a ex:Ticket ; ex:status ex:closed , ex:lost .
        |ex:i3 a ex:Ticket ; ex:status ex:stale .
        |""".stripMargin,
      s"""ex:StatusShape a sh:NodeShape ;
         |  sh:targetClass ex:Ticket ;
         |  ex:allowedStatus ex:open , ex:closed ;
         |  sh:sparql [
         |    sh:message "Status is not allowed by the shape." ;
         |    sh:select ""\"
         |      SELECT $$this ?value WHERE {
         |        $$this <${ex}status> ?value .
         |        FILTER NOT EXISTS {
         |          GRAPH $$shapesGraph { <${ex}StatusShape> <${ex}allowedStatus> ?value . }
         |        }
         |      }""\" ;
         |  ] .
         |""".stripMargin)
    assert(!conforms)
    def row(focus: String, value: String) = ResultRow(
      focus = Iri(ex + focus),
      value = Some(Iri(ex + value)),
      pathKey = None,
      component = SH.SPARQLConstraintComponent,
      shapeKey = Iri(ex + "StatusShape").key)
    assert(rows == Set(row("i2", "lost"), row("i3", "stale")))
  }
}
