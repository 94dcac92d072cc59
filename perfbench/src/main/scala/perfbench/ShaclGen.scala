package perfbench

import graft.rdf.{Iri, Lit, Node, RDF, RDFS, Triple, XSD}
import graft.shacl.SH

import scala.collection.mutable

/** Seeded data and shapes graphs for the SHACL workloads. Every violation
  * is planted, so the expected results per constraint component and the
  * expected report triples per predicate are known by construction. */
object ShaclGen {
  final case class Graph(triples: Vector[Triple], shapesTtl: String,
                         violations: Map[String, Long], report: Map[String, Long])

  private def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  /** Uniform [0, 1) draw for (seed, stream, item, slot). */
  private def u(seed: Long, stream: Long, item: Long, slot: Long): Double =
    (mix(mix(mix(mix(seed) ^ stream) ^ item) ^ slot) >>> 11).toDouble / (1L << 53).toDouble

  /** Expected results, and from them the report triples
    * `Validator.reportTriplesFrame` emits per result. */
  final class Tally {
    val byComponent = mutable.Map.empty[String, Long].withDefaultValue(0L)
    private var total, withValue, withPath, withMessage = 0L
    def add(comp: Iri, value: Boolean, path: Boolean = true, message: Boolean = false, n: Long = 1): Unit = {
      byComponent(comp.value) += n
      total += n
      if (value) withValue += n
      if (path) withPath += n
      if (message) withMessage += n
    }
    def report: Map[String, Long] = Map(
      RDF.ty.value -> total, SH.focusNode.value -> total, SH.resultSeverity.value -> total,
      SH.sourceShape.value -> total, SH.sourceConstraintComponent.value -> total,
      SH.value.value -> withValue, SH.resultPath.value -> withPath,
      SH.resultMessage.value -> withMessage).filter(_._2 > 0)
  }

  private val Prefixes =
    """@prefix sh: <http://www.w3.org/ns/shacl#> .
      |@prefix xsd: <http://www.w3.org/2001/XMLSchema#> .
      |""".stripMargin

  private def int(i: Long) = Lit(i.toString, XSD.integer)

  /** Chance that one record breaks one constraint group. */
  private val Rate = 0.03

  /** Records checked by one node shape: five single-hop property shapes
    * (three of them stacking two or three constraints on one predicate) and
    * a SPARQL constraint, with nine components violated. Violations
    * planted on one predicate exclude each other, so every planted value
    * breaks exactly one constraint. With `tamper`, one planted violation is
    * left out of the data but still expected. */
  def wide(seed: Long, records: Int, tamper: Boolean = false): Graph = {
    val W = "http://bench.example/wide#"
    val ts = Vector.newBuilder[Triple]
    val tally = new Tally
    var tamperLeft = tamper
    def p(name: String) = Iri(W + name)
    def add(s: Node, pred: String, o: Node): Unit = ts += Triple(s, p(pred), o)
    val nOrg = records / 20 + 1
    for (k <- 0 until nOrg) ts += Triple(Iri(W + s"org/$k"), RDF.ty, p("Org"))
    for (i <- 0 until records) {
      val s = Iri(W + s"rec/$i")
      def draw(slot: Int) = u(seed, 1, i, slot)
      ts += Triple(s, RDF.ty, p("Rec"))
      val e = draw(1)
      if (e < Rate) {
        tally.add(SH.MinCountConstraintComponent, value = false)
        if (tamperLeft) { tamperLeft = false; add(s, "email", Lit(s"e$i@x.example")) }
      } else if (e < 2 * Rate) {
        add(s, "email", Lit(s"e$i@x.example")); add(s, "email", Lit(s"f$i@x.example"))
        tally.add(SH.MaxCountConstraintComponent, value = false)
      } else if (e < 3 * Rate) {
        add(s, "email", Lit(s"bad-$i")); tally.add(SH.PatternConstraintComponent, value = true)
      } else add(s, "email", Lit(s"e$i@x.example"))
      val sc = draw(2)
      if (sc < Rate) { add(s, "score", int(-1 - i % 7)); tally.add(SH.MinInclusiveConstraintComponent, value = true) }
      else if (sc < 2 * Rate) {
        add(s, "score", int(101 + i % 7)); tally.add(SH.MaxInclusiveConstraintComponent, value = true)
      } else add(s, "score", int(i % 101))
      if (draw(3) < Rate) {
        add(s, "worksFor", Iri(W + s"nowhere/$i")); tally.add(SH.ClassConstraintComponent, value = true)
      } else add(s, "worksFor", Iri(W + s"org/${i % nOrg}"))
      if (draw(4) < Rate) { add(s, "status", Lit("unknown")); tally.add(SH.InConstraintComponent, value = true) }
      else add(s, "status", Lit(Seq("active", "inactive", "pending")(i % 3)))
      add(s, "start", int(i))
      if (draw(6) < Rate) { add(s, "end", int(i - 1)); tally.add(SH.LessThanConstraintComponent, value = true) }
      else add(s, "end", int(i + 10))
      if (draw(8) < Rate) {
        add(s, "spouse", s)
        tally.add(SH.SPARQLConstraintComponent, value = true, path = false, message = true)
      } else add(s, "spouse", Iri(W + s"rec/${(i + 1) % records}"))
    }
    val shapes = Prefixes +
      s"""@prefix w: <$W> .
         |w:RecShape a sh:NodeShape ; sh:targetClass w:Rec ;
         |  sh:property [ sh:path w:email ; sh:minCount 1 ; sh:maxCount 1 ;
         |                sh:pattern "^[a-z][0-9]+@x\\\\.example$$" ] ;
         |  sh:property [ sh:path w:score ; sh:minInclusive 0 ; sh:maxInclusive 100 ] ;
         |  sh:property [ sh:path w:worksFor ; sh:class w:Org ; sh:nodeKind sh:IRI ] ;
         |  sh:property [ sh:path w:status ; sh:in ( "active" "inactive" "pending" ) ] ;
         |  sh:property [ sh:path w:start ; sh:lessThan w:end ] ;
         |  sh:sparql [ sh:message "record is its own spouse" ;
         |    sh:select "SELECT $$this ?value WHERE { $$this <${W}spouse> ?value . FILTER (?value = $$this) }" ] .
         |""".stripMargin
    Graph(ts.result(), shapes, tally.byComponent.toMap, tally.report)
  }

  /** Both graphs in one: one validation then exercises single-hop shapes
    * and recursion together. */
  def merge(a: Graph, b: Graph): Graph = {
    def sum(x: Map[String, Long], y: Map[String, Long]) =
      (x.keySet ++ y.keySet).map(k => k -> (x.getOrElse(k, 0L) + y.getOrElse(k, 0L))).toMap
    Graph(a.triples ++ b.triples, a.shapesTtl + b.shapesTtl,
      sum(a.violations, b.violations), sum(a.report, b.report))
  }


  final case class Depths(chains: Int, chainDepth: Int, items: Int, classDepth: Int,
                          parts: Int, partDepth: Int, trees: Int, treeDepth: Int)

  /** Shapes whose cost is recursion: a `sh:oneOrMorePath` over reporting
    * chains, class targets through an `rdfs:subClassOf` hierarchy, an
    * `owl:TransitiveProperty` closed by OWL-RL inference, and a SHACL-AF
    * rule pair that derives ancestors one level per fixpoint round. Chain
    * 0 of each kind is broken (its top is the wrong node) and chain 1 is
    * whole; the others are broken with probability 1/4. */
  def deep(seed: Long, d: Depths): Graph = {
    val D = "http://bench.example/deep#"
    def n(local: String) = Iri(D + local)
    val ts = Vector.newBuilder[Triple]
    val tally = new Tally
    def broken(stream: Long, c: Int) = c == 0 || (c > 1 && u(seed, stream, c, 0) < 0.25)
    /** chain c of `depth` members typed `cls`, linked by `pred` to a top */
    def chain(stream: Long, count: Int, depth: Int, prefix: String, cls: String, pred: String,
              good: String, bad: String): Unit =
      for (c <- 0 until count) {
        def m(k: Int) = n(s"$prefix/$c/$k")
        for (k <- 0 until depth) {
          ts += Triple(m(k), RDF.ty, n(cls))
          ts += Triple(m(k), n(pred), if (k + 1 < depth) m(k + 1) else if (broken(stream, c)) n(bad) else n(good))
        }
        if (broken(stream, c)) tally.add(SH.HasValueConstraintComponent, value = false, n = depth)
      }
    chain(1, d.chains, d.chainDepth, "emp", "Employee", "reportsTo", "CEO", "Nobody")
    chain(2, d.parts, d.partDepth, "part", "Part", "partOf", "Whole", "Scrap")
    chain(3, d.trees, d.treeDepth, "tree", "TNode", "parent", "Root", "Stump")
    ts += Triple(n("partOf"), RDF.ty, Iri("http://www.w3.org/2002/07/owl#TransitiveProperty"))
    for (k <- 0 until d.classDepth) ts += Triple(n(s"L${k + 1}"), RDFS.subClassOf, n(s"L$k"))
    for (i <- 0 until d.items) {
      val x = n(s"item/$i")
      ts += Triple(x, RDF.ty, n(s"L${i % (d.classDepth + 1)}"))
      if (u(seed, 4, i, 1) >= 0.05) ts += Triple(x, n("code"), Lit(s"k$i"))
      else tally.add(SH.MinCountConstraintComponent, value = false)
    }
    val shapes = Prefixes +
      s"""@prefix d: <$D> .
         |d:ChainShape a sh:NodeShape ; sh:targetClass d:Employee ;
         |  sh:property [ sh:path [ sh:oneOrMorePath d:reportsTo ] ; sh:hasValue d:CEO ] .
         |d:LevelShape a sh:NodeShape ; sh:targetClass d:L0 ;
         |  sh:property [ sh:path d:code ; sh:minCount 1 ] .
         |d:PartShape a sh:NodeShape ; sh:targetClass d:Part ;
         |  sh:property [ sh:path d:partOf ; sh:hasValue d:Whole ] .
         |d:RuleShape a sh:NodeShape ; sh:targetClass d:TNode ;
         |  sh:rule [ a sh:TripleRule ; sh:subject sh:this ; sh:predicate d:ancestor ;
         |            sh:object [ sh:path d:parent ] ] ;
         |  sh:rule [ a sh:TripleRule ; sh:subject sh:this ; sh:predicate d:ancestor ;
         |            sh:object [ sh:path ( d:parent d:ancestor ) ] ] .
         |d:AncestorShape a sh:NodeShape ; sh:targetClass d:TNode ;
         |  sh:property [ sh:path d:ancestor ; sh:hasValue d:Root ] .
         |""".stripMargin
    Graph(ts.result(), shapes, tally.byComponent.toMap, tally.report)
  }
}
