package graft.shacl

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.rdf._

class RulesSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  def expandTtl(ttl: String, iterate: Boolean = false, rdfs: Boolean = false): MemGraph = {
    val g = TurtleParser.parseGraph(ttl, "http://test/")
    var df = TriplesDF.fromMemGraph(spark, g)
    if (rdfs) df = RdfsInference.expand(spark, df)
    val out = RulesEngine.expand(spark, df, g, iterateRules = iterate)
    MemGraph(TriplesDF.collectTriples(out))
  }

  val prefixes =
    """@prefix sh: <http://www.w3.org/ns/shacl#> .
      |@prefix ex: <http://ex.org/> .
      |@prefix rdf: <http://www.w3.org/1999/02/22-rdf-syntax-ns#> .
      |@prefix xsd: <http://www.w3.org/2001/XMLSchema#> .
      |""".stripMargin

  test("TripleRule: constant + path expressions with condition") {
    val g = expandTtl(prefixes +
      """ex:a a ex:Person ; ex:first "Jo" .
        |ex:b a ex:Person .
        |ex:S a sh:NodeShape ; sh:targetClass ex:Person ;
        |  sh:rule [ a sh:TripleRule ;
        |    sh:subject sh:this ; sh:predicate ex:name ;
        |    sh:object [ sh:path ex:first ] ;
        |    sh:condition ex:HasFirst ] .
        |ex:HasFirst a sh:NodeShape ;
        |  sh:property [ sh:path ex:first ; sh:minCount 1 ] .
        |""".stripMargin)
    assert(g.contains(Iri("http://ex.org/a"), Iri("http://ex.org/name"), Lit("Jo")))
    // ex:b fails the condition -> no triple
    assert(g.objects(Iri("http://ex.org/b"), Iri("http://ex.org/name")).isEmpty)
  }

  test("TripleRule: union and intersection expressions") {
    val g = expandTtl(prefixes +
      """ex:x a ex:T ; ex:p ex:v1 ; ex:q ex:v1 , ex:v2 .
        |ex:S a sh:NodeShape ; sh:targetClass ex:T ;
        |  sh:rule [ a sh:TripleRule ;
        |    sh:subject sh:this ; sh:predicate ex:both ;
        |    sh:object [ sh:intersection ( [ sh:path ex:p ] [ sh:path ex:q ] ) ] ] ;
        |  sh:rule [ a sh:TripleRule ;
        |    sh:subject sh:this ; sh:predicate ex:any ;
        |    sh:object [ sh:union ( [ sh:path ex:p ] [ sh:path ex:q ] ) ] ] .
        |""".stripMargin)
    val x = Iri("http://ex.org/x")
    assert(g.objects(x, Iri("http://ex.org/both")).toSet == Set(Iri("http://ex.org/v1")))
    assert(g.objects(x, Iri("http://ex.org/any")).toSet ==
      Set(Iri("http://ex.org/v1"), Iri("http://ex.org/v2")))
  }

  test("TripleRule: iterate to fixpoint computes transitive closure") {
    val g = expandTtl(prefixes +
      """ex:a ex:next ex:b . ex:b ex:next ex:c . ex:c ex:next ex:d .
        |ex:S a sh:NodeShape ; sh:targetSubjectsOf ex:next ;
        |  sh:rule [ a sh:TripleRule ;
        |    sh:subject sh:this ; sh:predicate ex:reach ;
        |    sh:object [ sh:path ( ex:next [ sh:zeroOrOnePath ex:reach ] ) ] ] .
        |""".stripMargin, iterate = true)
    val a = Iri("http://ex.org/a")
    assert(g.objects(a, Iri("http://ex.org/reach")).toSet ==
      Set(Iri("http://ex.org/b"), Iri("http://ex.org/c"), Iri("http://ex.org/d")))
  }

  test("TripleRule: the iterated rule loop returns as many partitions as it was given") {
    val ttl = prefixes + (0 until 7).map(i => s"ex:n$i ex:parent ex:n${i + 1} .").mkString("\n") +
      """
        |ex:S a sh:NodeShape ; sh:targetSubjectsOf ex:parent ;
        |  sh:rule [ a sh:TripleRule ;
        |    sh:subject sh:this ; sh:predicate ex:ancestor ; sh:object [ sh:path ex:parent ] ] ;
        |  sh:rule [ a sh:TripleRule ;
        |    sh:subject sh:this ; sh:predicate ex:ancestor ;
        |    sh:object [ sh:path ( ex:parent ex:ancestor ) ] ] .
        |""".stripMargin
    val g = TurtleParser.parseGraph(ttl, "http://test/")
    val in = TriplesDF.fromMemGraph(spark, g).repartition(8)
    val out = RulesEngine.expand(spark, in, g, iterateRules = true)
    // 8 nodes in a chain: 7 + 6 + ... + 1 ancestor pairs
    assert(out.filter(org.apache.spark.sql.functions.col("p") === "http://ex.org/ancestor").count() == 28)
    assert(out.rdd.getNumPartitions == 8)
  }

  test("TripleRule: without iterateRules a higher sh:order rule reads a lower-order rule's output") {
    // listed first but ordered second: ex:r2 exists only if the second
    // rule sees the graph the first one grew in the same pass
    val g = expandTtl(prefixes +
      """ex:a a ex:T ; ex:p ex:b .
        |ex:S a sh:NodeShape ; sh:targetClass ex:T ;
        |  sh:rule [ a sh:TripleRule ; sh:order 2 ;
        |    sh:subject sh:this ; sh:predicate ex:r2 ; sh:object [ sh:path ex:r1 ] ] ;
        |  sh:rule [ a sh:TripleRule ; sh:order 1 ;
        |    sh:subject sh:this ; sh:predicate ex:r1 ; sh:object [ sh:path ex:p ] ] .
        |""".stripMargin)
    def I(l: String) = Iri("http://ex.org/" + l)
    assert(g.contains(I("a"), I("r1"), I("b")))
    assert(g.contains(I("a"), I("r2"), I("b")))
  }

  test("TripleRule: compiled and ASK-bodied SHACLFunctions as the object") {
    val g = expandTtl(prefixes +
      """ex:a a ex:T ; ex:name "jo" ; ex:p ex:b .
        |ex:c a ex:T ; ex:name "al" .
        |ex:upper a sh:SPARQLFunction ;
        |  sh:parameter [ sh:path ex:s ] ;
        |  sh:select "SELECT ?result WHERE { BIND(UCASE($s) AS ?result) }" .
        |ex:hasP a sh:SPARQLFunction ;
        |  sh:parameter [ sh:path ex:x ] ;
        |  sh:ask "ASK { $x ex:p ?any . }" .
        |ex:anyP a sh:SPARQLFunction ;
        |  sh:ask "ASK { ?s ex:p ?o . }" .
        |ex:noQ a sh:SPARQLFunction ;
        |  sh:ask "ASK { ?s ex:q ?o . }" .
        |ex:S a sh:NodeShape ; sh:targetClass ex:T ;
        |  sh:rule [ a sh:TripleRule ; sh:subject sh:this ; sh:predicate ex:upperName ;
        |    sh:object [ ex:upper ( [ sh:path ex:name ] ) ] ] ;
        |  sh:rule [ a sh:TripleRule ; sh:subject sh:this ; sh:predicate ex:hasP ;
        |    sh:object [ ex:hasP ( sh:this ) ] ] ;
        |  sh:rule [ a sh:TripleRule ; sh:subject sh:this ; sh:predicate ex:anyP ;
        |    sh:object [ ex:anyP () ] ] ;
        |  sh:rule [ a sh:TripleRule ; sh:subject sh:this ; sh:predicate ex:noQ ;
        |    sh:object [ ex:noQ () ] ] .
        |""".stripMargin)
    def I(l: String) = Iri("http://ex.org/" + l)
    val (t, f) = (Lit("true", XSD.boolean), Lit("false", XSD.boolean))
    def objs(s: String, p: String) = g.objects(I(s), I(p)).toSet
    assert(objs("a", "upperName") == Set(Lit("JO")))
    assert(objs("c", "upperName") == Set(Lit("AL")))
    assert(objs("a", "hasP") == Set(t))
    assert(objs("c", "hasP") == Set(f))
    for (x <- Seq("a", "c")) {
      assert(objs(x, "anyP") == Set(t), x)
      assert(objs(x, "noQ") == Set(f), x)
    }
  }

  for ((sub, name) <- Seq(
    ("triple", "schema2person"), ("triple", "rectangle"), ("triple", "square"),
    ("triple", "functions-permutations"),
    ("sparql", "rectangle"), ("sparql", "classify-square")))
  test(s"DASH InferencingTestCase: rules/$sub/$name") {
    val file = s"/root/reference/test/resources/dash_tests/rules/$sub/$name.test.ttl"
    val g = TurtleParser.parseFile(file)
    var df = TriplesDF.fromMemGraph(spark, g)
    df = RdfsInference.expand(spark, df)
    val out = RulesEngine.expand(spark, df, g)
    val expanded = MemGraph(TriplesDF.collectTriples(out))
    val DASH = "http://datashapes.org/dash#"
    val cases = g.subjects(RDF.ty, Iri(DASH + "InferencingTestCase")).toList
    assert(cases.nonEmpty)
    val failures = cases.flatMap { c =>
      g.objects(c, Iri(DASH + "expectedResult")).toList.flatMap { er =>
        val s = g.value(er, RDF.subject).get
        val p = g.value(er, RDF.predicate).get.asInstanceOf[Iri]
        val o = g.value(er, RDF.objectP).get
        val found = o match {
          case l: Lit => expanded.objects(s, p).exists {
            case l2: Lit => l2 == l || LitCompare.valueEq(l, l2)
            case _ => false
          }
          case b: BNode => expanded.objects(s, p).exists {
            case b2: BNode => ReportCompare.compareBlank(g, b, expanded, b2)
            case _ => false
          }
          case other => expanded.contains(s, p, other)
        }
        if (found) None else Some(s"missing: $s $p $o")
      }
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }
}
