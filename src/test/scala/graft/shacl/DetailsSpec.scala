package graft.shacl

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.rdf._

/** sh:detail nesting for sh:node — the port of the reference's
  * test/test_sh_details.py::test_node_details expectations, plus sh:node
  * on a property shape. */
class DetailsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  val ttl =
    """@prefix sh: <http://www.w3.org/ns/shacl#> .
      |@prefix xsd: <http://www.w3.org/2001/XMLSchema#> .
      |@prefix ex: <http://example.org/> .
      |ex:PersonShape a sh:NodeShape ;
      |  sh:targetClass ex:Person ;
      |  sh:node ex:Shape1 .
      |ex:Shape1 a sh:NodeShape ;
      |  sh:node ex:Shape2 ;
      |  sh:property [ a sh:PropertyShape ; sh:path ex:familyName ;
      |    sh:datatype xsd:string ; sh:minCount 1 ] .
      |ex:Shape2 a sh:NodeShape ;
      |  sh:property [ a sh:PropertyShape ; sh:path ex:givenName ;
      |    sh:datatype xsd:string ; sh:minCount 1 ] .
      |ex:Person1 a ex:Person .
      |""".stripMargin

  test("sh:node violations nest child results via sh:detail (2 levels)") {
    val g = TurtleParser.parseGraph(ttl, "http://test/")
    val out = Validator.validateGraph(spark, g, Some(g))
    assert(!out.conforms)
    val rg = out.reportGraph
    val report = rg.subjects(RDF.ty, SH.ValidationReport).toList.head
    val topResults = rg.objects(report, SH.result).toList
    assert(topResults.size == 1, s"expected 1 top result, got ${topResults.size}")
    val top = topResults.head
    assert(rg.objects(top, SH.sourceConstraintComponent).toList ==
      List(SH.NodeConstraintComponent))
    val details = rg.objects(top, SH.detail).toList
    assert(details.size == 2, s"expected 2 details, got ${details.size}")
    val (leaf, mid) = details.partition(d => rg.objects(d, SH.detail).isEmpty) match {
      case (List(l), List(m)) => (l, m)
      case other => fail(s"unexpected detail structure: $other")
    }
    assert(rg.objects(leaf, SH.sourceConstraintComponent).toList ==
      List(SH.MinCountConstraintComponent))
    val grand = rg.objects(mid, SH.detail).toList
    assert(grand.size == 1)
    assert(rg.objects(grand.head, SH.sourceConstraintComponent).toList ==
      List(SH.MinCountConstraintComponent))
  }

  test("sh:node on a property shape keeps its sh:detail rows") {
    val g = TurtleParser.parseGraph(
      """@prefix sh: <http://www.w3.org/ns/shacl#> .
        |@prefix ex: <http://example.org/> .
        |ex:PersonShape a sh:NodeShape ;
        |  sh:targetClass ex:Person ;
        |  sh:property [ sh:path ex:address ; sh:node ex:AddressShape ] .
        |ex:AddressShape a sh:NodeShape ;
        |  sh:property [ sh:path ex:street ; sh:minCount 1 ] .
        |ex:Person1 a ex:Person ; ex:address ex:Addr1 .
        |ex:Person2 a ex:Person ; ex:address ex:Addr1 .
        |""".stripMargin, "http://test/")
    val out = Validator.validateGraph(spark, g, Some(g))
    assert(!out.conforms)
    val rg = out.reportGraph
    val report = rg.subjects(RDF.ty, SH.ValidationReport).toList.head
    val top = rg.objects(report, SH.result).toList
    // one sh:node result per person: the shared address fails for both
    assert(top.size == 2, s"expected 2 top results, got ${top.size}")
    assert(top.forall(r => rg.objects(r, SH.sourceConstraintComponent).toList ==
      List(SH.NodeConstraintComponent)))
    assert(top.flatMap(r => rg.objects(r, SH.focusNode)).toSet ==
      Set[Node](Iri("http://example.org/Person1"), Iri("http://example.org/Person2")))
    val details = top.flatMap(r => rg.objects(r, SH.detail))
    assert(details.nonEmpty, "the sh:node result lost its sh:detail rows")
    for (d <- details) {
      assert(rg.objects(d, SH.sourceConstraintComponent).toList ==
        List(SH.MinCountConstraintComponent))
      assert(rg.objects(d, SH.focusNode).toList == List(Iri("http://example.org/Addr1")))
    }
    assert(rg.subjects(SH.detail, details.head).size == 1)
  }
}
