package graft.shacl

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.rdf._

/** The sub-shape memo: the shapes on a reference cycle, which it must not
  * cache, and a deep DAG of shared sub-shapes, which only the memo keeps
  * from being evaluated once per path through it. */
class MemoSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val ex = "http://ex.org/"
  private def I(l: String) = Iri(ex + l)
  private val prefixes =
    s"""@prefix sh: <http://www.w3.org/ns/shacl#> .
       |@prefix ex: <$ex> .
       |""".stripMargin

  test("every shape on a reference cycle is found, in either sh:and member order") {
    // U -> A -> U and U -> B -> A -> U; D reaches the cycle but is not on it
    for (members <- Seq("ex:A ex:B", "ex:B ex:A")) {
      val sg = TurtleParser.parseGraph(prefixes +
        s"""ex:U a sh:NodeShape ; sh:and ( $members ) .
           |ex:A a sh:NodeShape ; sh:node ex:U .
           |ex:B a sh:NodeShape ; sh:node ex:A .
           |ex:D a sh:NodeShape ; sh:node ex:U .
           |""".stripMargin, "http://test/")
      val engine = new ValidationEngine(spark, TriplesDF.fromTriples(spark, Nil),
        new ShapeCompiler(sg).compile(), sg)
      try assert(engine.cyclicShapeKeys == Set("U", "A", "B").map(I(_).key), members)
      finally engine.close()
    }
  }

  test("12 levels of sub-shapes, each shared by two parents, validate within a time bound") {
    // S_i needs P_i and Q_i, which both need S_(i+1): 2^12 paths reach S_12
    val depth = 12
    val levels = (0 until depth).map { i =>
      s"""ex:S$i a sh:NodeShape ; sh:and ( ex:P$i ex:Q$i ) .
         |ex:P$i a sh:NodeShape ; sh:node ex:S${i + 1} .
         |ex:Q$i a sh:NodeShape ; sh:node ex:S${i + 1} .
         |""".stripMargin
    }.mkString
    val shapes = TurtleParser.parseGraph(prefixes + levels +
      s"""ex:S$depth a sh:NodeShape ; sh:property [ sh:path ex:name ; sh:minCount 1 ] .
         |ex:S0 sh:targetClass ex:T ; sh:property [ sh:path ex:name ; sh:maxCount 1 ] .
         |""".stripMargin, "http://test/s")
    val data = TurtleParser.parseGraph(prefixes +
      """ex:good a ex:T ; ex:name "g" .
        |ex:bad a ex:T .
        |ex:twice a ex:T ; ex:name "t1" , "t2" .
        |""".stripMargin, "http://test/d")
    // each level is two steps deep (sh:and, then sh:node)
    val opts = ValidationOptions(maxDepth = 2 * depth + 1)
    val t0 = System.nanoTime()
    val out = Validator.validateGraph(spark, data, Some(shapes), opts)
    val secs = (System.nanoTime() - t0) / 1e9
    assert(secs < 120, f"took $secs%.1f s")
    val top = out.results.filterNot(_.isDetail).map(r => (r.focus, r.component, r.shapeKey)).toSet
    val maxCountShape = shapes.objects(I("S0"), SH.property).next().key
    assert(top == Set(
      (I("bad"), SH.AndConstraintComponent, I("S0").key),
      (I("twice"), SH.MaxCountConstraintComponent, maxCountShape)))
  }
}
