package graft.shacl

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.rdf._

/** Direct SparqlFrame coverage for algebra the conformance corpora don't
  * exercise: OPTIONAL (left join + unbound vars), UNION with differing
  * variable sets, BIND, and bound()/COALESCE over maybe-null columns. */
class SparqlFrameSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val ex = "http://ex.org/"

  val data =
    s"""@prefix ex: <$ex> .
       |ex:a ex:name "A" ; ex:nick "Ace" .
       |ex:b ex:name "B" .
       |ex:c ex:alias "C-alias" .
       |""".stripMargin

  def runOn(ttl: String, q: String): Seq[Map[String, Node]] = {
    val T = TriplesDF.fromMemGraph(spark, TurtleParser.parseGraph(ttl, "http://test/"))
    val frame = new SparqlFrame(spark, T, PathEval.step(T, _, _), Map.empty, None)
    val sel = Sparql.parseQuery(q, Map("ex" -> ex)).asInstanceOf[Sparql.SqSelect]
    val res = frame.evalSelect(sel, frame.unitSeed)
    frame.collect(res, res.vars.filterNot(_.startsWith("__")).toSeq.sorted)
  }

  def run(q: String): Seq[Map[String, Node]] = runOn(data, q)

  /** One-row expression probe: SELECT (expr AS ?r) over a single solution. */
  def eval1(exprTxt: String): Option[Node] =
    run(s"""SELECT ($exprTxt AS ?r) WHERE { ?z ex:alias ?al . }""").head.get("r")

  test("OPTIONAL leaves unmatched rows with unbound vars; COALESCE fills") {
    val rows = run(
      """SELECT ?s ?nick (COALESCE(?nick, "none") AS ?label)
        |WHERE { ?s ex:name ?n . OPTIONAL { ?s ex:nick ?nick . } }
        |ORDER BY ?s""".stripMargin)
    assert(rows.size == 2)
    val a = rows.find(_("s") == Iri(ex + "a")).get
    val b = rows.find(_("s") == Iri(ex + "b")).get
    assert(a("nick") == Lit("Ace") && a("label") == Lit("Ace"))
    assert(!b.contains("nick")) // unbound
    assert(b("label") == Lit("none"))
  }

  test("FILTER bound() over an OPTIONAL var") {
    val rows = run(
      """SELECT ?s WHERE { ?s ex:name ?n . OPTIONAL { ?s ex:nick ?nick . }
        |FILTER (!bound(?nick)) }""".stripMargin)
    assert(rows.map(_("s")) == Seq(Iri(ex + "b")))
  }

  test("UNION branches with different variable sets align on null") {
    val rows = run(
      """SELECT ?s ?n ?al WHERE {
        |  { ?s ex:name ?n . } UNION { ?s ex:alias ?al . }
        |}""".stripMargin)
    assert(rows.size == 3)
    val c = rows.find(_("s") == Iri(ex + "c")).get
    assert(c("al") == Lit("C-alias") && !c.contains("n"))
    assert(rows.count(_.contains("n")) == 2)
  }

  test("BIND introduces a computed var usable downstream") {
    val rows = run(
      """SELECT ?s ?len WHERE {
        |  ?s ex:name ?n . BIND (STRLEN(?n) AS ?len) . FILTER (?len = 1)
        |}""".stripMargin)
    assert(rows.size == 2 && rows.forall(_("len") == Lit("1", XSD.integer)))
  }

  // ------------------------------------------------ ORDER BY value semantics
  val numData =
    s"""@prefix ex: <$ex> .
       |ex:x1 ex:v 2 . ex:x2 ex:v 10 . ex:x3 ex:v "b" . ex:x4 ex:v 3.5 .
       |""".stripMargin

  test("ORDER BY sorts numeric literals by value, not lexically") {
    val rows = runOn(numData, "SELECT ?n WHERE { ?s ex:v ?n . } ORDER BY ?n")
    assert(rows.map(_("n")) ==
      Seq(Lit("2", XSD.integer), Lit("3.5", XSD.decimal), Lit("10", XSD.integer), Lit("b")))
    val desc = runOn(numData, "SELECT ?n WHERE { ?s ex:v ?n . } ORDER BY DESC(?n)")
    assert(desc.map(_("n")) ==
      Seq(Lit("b"), Lit("10", XSD.integer), Lit("3.5", XSD.decimal), Lit("2", XSD.integer)))
  }

  val peopleData =
    s"""@prefix ex: <$ex> .
       |ex:p1 ex:name "Ann" ; ex:age 31 .
       |ex:p2 ex:name "Bo" ; ex:age 7 .
       |ex:p3 ex:name "Celeste" ; ex:age 19 .
       |""".stripMargin

  test("ORDER BY a non-projected variable sorts pre-projection (SPARQL 15.1)") {
    val rows = runOn(peopleData,
      "SELECT ?name WHERE { ?s ex:name ?name ; ex:age ?age . } ORDER BY ?age")
    assert(rows.map(_("name")) == Seq(Lit("Bo"), Lit("Celeste"), Lit("Ann")))
    val desc = runOn(peopleData,
      "SELECT ?name WHERE { ?s ex:name ?name ; ex:age ?age . } ORDER BY DESC(?age)")
    assert(desc.map(_("name")) == Seq(Lit("Ann"), Lit("Celeste"), Lit("Bo")))
  }

  test("ORDER BY expression keys: STRLEN and arithmetic") {
    val rows = runOn(peopleData,
      "SELECT ?name WHERE { ?s ex:name ?name . } ORDER BY STRLEN(?name)")
    assert(rows.map(_("name")) == Seq(Lit("Bo"), Lit("Ann"), Lit("Celeste")))
    val neg = runOn(peopleData,
      "SELECT ?name WHERE { ?s ex:name ?name ; ex:age ?age . } ORDER BY (0 - ?age)")
    assert(neg.map(_("name")) == Seq(Lit("Ann"), Lit("Celeste"), Lit("Bo")))
  }

  test("ORDER BY DISTINCT still dedups while sorting on a hidden key") {
    // Ann yields two (name, age) solutions; DISTINCT ?name must collapse
    // them while the hidden ?age sort key still orders Bo first
    val dup =
      s"""@prefix ex: <$ex> .
         |ex:p1 ex:name "Ann" ; ex:age 31 , 32 .
         |ex:p2 ex:name "Bo" ; ex:age 7 .
         |""".stripMargin
    val rows = runOn(dup,
      "SELECT DISTINCT ?name WHERE { ?s ex:name ?name ; ex:age ?age . } ORDER BY ?age")
    assert(rows.map(_("name")) == Seq(Lit("Bo"), Lit("Ann")))
  }

  test("unparseable ORDER BY argument is a loud ParseError") {
    intercept[Sparql.ParseError] {
      runOn(peopleData, "SELECT ?name WHERE { ?s ex:name ?name . } ORDER BY bogus")
    }
  }

  test("VALUES single-var and row forms join in; UNDEF leaves unbound") {
    val rows = runOn(peopleData,
      """SELECT ?s ?name WHERE { ?s ex:name ?name .
        |  VALUES ?name { "Ann" "Bo" } } ORDER BY ?name""".stripMargin)
    assert(rows.map(_("name")) == Seq(Lit("Ann"), Lit("Bo")))
    val multi = runOn(peopleData,
      """SELECT ?name ?tag WHERE { ?s ex:name ?name .
        |  VALUES (?name ?tag) { ("Ann" "boss") (UNDEF "any") } } ORDER BY ?name""".stripMargin)
    // ("Ann","boss") matches only Ann; (UNDEF,"any") joins every name
    assert(multi.size == 4)
    assert(multi.count(_("tag") == Lit("boss")) == 1)
    assert(multi.count(_("tag") == Lit("any")) == 3)
  }

  test("IN / NOT IN operators evaluate as chained value equality") {
    val rows = runOn(peopleData,
      """SELECT ?name WHERE { ?s ex:name ?name ; ex:age ?age .
        |  FILTER (?age IN (7, 19)) } ORDER BY ?name""".stripMargin)
    assert(rows.map(_("name")) == Seq(Lit("Bo"), Lit("Celeste")))
    val notIn = runOn(peopleData,
      """SELECT ?name WHERE { ?s ex:name ?name .
        |  FILTER (?name NOT IN ("Bo", "Celeste")) }""".stripMargin)
    assert(notIn.map(_("name")) == Seq(Lit("Ann")))
    val empty = runOn(peopleData,
      "SELECT ?name WHERE { ?s ex:name ?name . FILTER (?name IN ()) }")
    assert(empty.isEmpty)
  }

  test("MINUS removes compatible solutions; disjoint domains remove nothing") {
    val rows = runOn(peopleData,
      """SELECT ?name WHERE { ?s ex:name ?name .
        |  MINUS { ?s ex:age 7 . } } ORDER BY ?name""".stripMargin)
    assert(rows.map(_("name")) == Seq(Lit("Ann"), Lit("Celeste")))
    // rhs sharing no variables with the lhs must not remove anything
    val disjoint = runOn(peopleData,
      """SELECT ?name WHERE { ?s ex:name ?name .
        |  MINUS { ?other ex:age 7 . } } ORDER BY ?name""".stripMargin)
    assert(disjoint.size == 3)
  }

  test("a sub-select projecting a variable its WHERE never binds joins as unbound") {
    // ?o is unbound in every sub-select row, so it is compatible with the
    // outer ?o and the join keeps the outer row (SPARQL 18.5 Join)
    val rows = runOn(s"""@prefix ex: <$ex> .
      |ex:a ex:p ex:b . ex:c ex:q "z" .""".stripMargin,
      "SELECT ?s ?o ?z WHERE { ?s ex:p ?o . { SELECT ?o ?z WHERE { ?s2 ex:q ?z } } }")
    assert(rows == Seq(Map("s" -> Iri(ex + "a"), "o" -> Iri(ex + "b"), "z" -> Lit("z"))))
  }

  test("negated property sets: !ex:p, !(^ex:p), closure over !(...)") {
    val rows = runOn(peopleData,
      "SELECT ?o WHERE { ex:p1 !ex:age ?o . }")
    assert(rows.map(_("o")) == Seq(Lit("Ann"))) // only ex:name survives
    // inverse-only NPS: x !(^name) y iff triple(y, p, x) with p ∉ {name};
    // anchored to y = ex:p2 the only such x is the age literal 7
    val inv = runOn(peopleData,
      "SELECT ?v WHERE { ?v !(^ex:name) ?who . FILTER(?who = ex:p2) }")
    assert(inv.map(_("v")) == Seq(Lit("7", XSD.integer)))
    val mixed = runOn(peopleData,
      "SELECT ?x WHERE { ex:p2 !(ex:nope|^ex:nothing) ?x . } ORDER BY ?x")
    assert(mixed.map(_("x")).toSet == Set(Lit("Bo"), Lit("7", XSD.integer)))
  }

  test("BNODE(str) labels are deterministic across reruns of the same query") {
    val q = """SELECT ?s (BNODE("x") AS ?b) WHERE { ?s ex:v ?n . }"""
    val a = runOn(numData, q).map(r => r("s") -> r("b")).toMap
    val b = runOn(numData, q).map(r => r("s") -> r("b")).toMap
    assert(a == b)
    assert(a.values.toSeq.distinct.size == 4)
  }

  test("comment after a less-than comparison strips (< only opens IRIs)") {
    val rows = runOn(peopleData,
      "SELECT ?s WHERE { ?s ex:age ?a . FILTER(?a < 20) # keep the kids\n } ORDER BY ?s")
    assert(rows.map(_("s")) == Seq(Iri(ex + "p2"), Iri(ex + "p3")))
    // the unspaced form too: '<' followed by a digit is a comparison, not
    // an IRI opener (no '>' before whitespace)
    val tight = runOn(peopleData,
      "SELECT ?s WHERE { ?s ex:age ?a . FILTER(?a<20) # kids\n } ORDER BY ?s")
    assert(tight.map(_("s")) == Seq(Iri(ex + "p2"), Iri(ex + "p3")))
  }

  test("DISTINCT keeps the FIRST row in sort order (deterministic representative)") {
    // solution sequence sorted by ?age: (Ann,5) (Bo,7) (Ann,40); DISTINCT
    // keeps first occurrences -> Ann, Bo; LIMIT 1 must deterministically
    // return Ann (an arbitrary dropDuplicates could pick Ann@40 and let
    // Bo win)
    val dup =
      s"""@prefix ex: <$ex> .
         |ex:p1 ex:name "Ann" ; ex:age 5 , 40 .
         |ex:p2 ex:name "Bo" ; ex:age 7 .
         |""".stripMargin
    val q = """SELECT DISTINCT ?name WHERE { ?s ex:name ?name ; ex:age ?age . }
              |ORDER BY ?age LIMIT 1""".stripMargin
    (1 to 3).foreach { _ =>
      assert(runOn(dup, q).map(_("name")) == Seq(Lit("Ann")))
    }
  }

  // ----------------------------------------------------- builtin functions
  test("string tests: STRSTARTS / STRENDS / CONTAINS / isNumeric") {
    assert(eval1("""STRSTARTS(?al, "C-")""").contains(Lit("true", XSD.boolean)))
    assert(eval1("""STRENDS(?al, "alias")""").contains(Lit("true", XSD.boolean)))
    assert(eval1("""CONTAINS(?al, "-ali")""").contains(Lit("true", XSD.boolean)))
    assert(eval1("""CONTAINS(?al, "xyz")""").contains(Lit("false", XSD.boolean)))
    assert(eval1("""isNumeric(?al)""").contains(Lit("false", XSD.boolean)))
    assert(eval1("""isNumeric(7)""").contains(Lit("true", XSD.boolean)))
  }

  test("SUBSTR / REPLACE / STRBEFORE / STRAFTER") {
    assert(eval1("""SUBSTR(?al, 3)""").contains(Lit("alias")))
    assert(eval1("""SUBSTR(?al, 1, 1)""").contains(Lit("C")))
    assert(eval1("""REPLACE(?al, "ali", "ALI")""").contains(Lit("C-ALIas")))
    assert(eval1("""REPLACE("aaa", "a", "b", "i")""").contains(Lit("bbb")))
    assert(eval1("""STRBEFORE(?al, "-")""").contains(Lit("C")))
    assert(eval1("""STRAFTER(?al, "-")""").contains(Lit("alias")))
    assert(eval1("""STRAFTER(?al, "zz")""").contains(Lit("")))
    assert(eval1("""STRAFTER(?al, "")""").contains(Lit("C-alias")))
    assert(eval1("""STRBEFORE(?al, "")""").contains(Lit("")))
  }

  test("term constructors: IRI / STRDT / STRLANG / BNODE") {
    assert(eval1(s"""IRI("${ex}new")""").contains(Iri(ex + "new")))
    assert(eval1("""STRDT("5", <http://www.w3.org/2001/XMLSchema#integer>)""")
      .contains(Lit("5", XSD.integer)))
    assert(eval1("""STRLANG("chat", "EN")""").contains(Lit("chat", "", "en")))
    assert(eval1("""BNODE("x")""").exists { case BNode(_) => true; case _ => false })
    assert(eval1("""BNODE()""").exists { case BNode(_) => true; case _ => false })
  }

  test("numeric: ROUND (half toward +inf) / CEIL / FLOOR") {
    assert(eval1("ROUND(2.5)").contains(Lit("3", XSD.integer)))
    assert(eval1("ROUND(-2.5)").contains(Lit("-2", XSD.integer)))
    assert(eval1("CEIL(1.1)").contains(Lit("2", XSD.integer)))
    assert(eval1("FLOOR(-1.1)").contains(Lit("-2", XSD.integer)))
  }

  test("date/time accessors over xsd:dateTime lexical forms") {
    val d = """"2011-01-10T14:45:13.815-05:00"^^<http://www.w3.org/2001/XMLSchema#dateTime>"""
    assert(eval1(s"YEAR($d)").contains(Lit("2011", XSD.integer)))
    assert(eval1(s"MONTH($d)").contains(Lit("1", XSD.integer)))
    assert(eval1(s"DAY($d)").contains(Lit("10", XSD.integer)))
    assert(eval1(s"HOURS($d)").contains(Lit("14", XSD.integer)))
    assert(eval1(s"MINUTES($d)").contains(Lit("45", XSD.integer)))
    assert(eval1(s"SECONDS($d)").contains(Lit("13.815", XSD.decimal)))
    assert(eval1(s"TZ($d)").contains(Lit("-05:00")))
    assert(eval1(s"TIMEZONE($d)")
      .contains(Lit("-PT5H", XSD.ns + "dayTimeDuration")))
    val z = """"2011-01-10T14:45:13Z"^^<http://www.w3.org/2001/XMLSchema#dateTime>"""
    assert(eval1(s"TZ($z)").contains(Lit("Z")))
    assert(eval1(s"TIMEZONE($z)").contains(Lit("PT0S", XSD.ns + "dayTimeDuration")))
  }

  test("hash functions + ENCODE_FOR_URI match known vectors") {
    assert(eval1("""MD5("abc")""").contains(Lit("900150983cd24fb0d6963f7d28e17f72")))
    assert(eval1("""SHA1("abc")""").contains(Lit("a9993e364706816aba3e25717850c26c9cd0d89d")))
    assert(eval1("""SHA256("abc")""").contains(
      Lit("ba7816bf8f01cfea414140de5dae2223b00361a396177a9cb410ff61f20015ad")))
    assert(eval1("""ENCODE_FOR_URI("Los Angeles")""").contains(Lit("Los%20Angeles")))
    assert(eval1("""ENCODE_FOR_URI("~bob/a*x")""").contains(Lit("~bob%2Fa%2Ax")))
  }

  test("UUID / STRUUID produce fresh well-formed terms") {
    val u = eval1("UUID()").get
    assert(u match { case Iri(v) => v.startsWith("urn:uuid:"); case _ => false })
    val s0 = eval1("STRUUID()").get
    assert(s0 match { case Lit(v, "", "") => v.length == 36; case _ => false })
  }

  test("GROUP_CONCAT with separator and DISTINCT") {
    val rows = runOn(numData,
      """SELECT (GROUP_CONCAT(?n ; SEPARATOR = "|") AS ?all)
        |WHERE { ?s ex:v ?n . }""".stripMargin)
    assert(rows.head("all") == Lit("10|2|3.5|b")) // sorted for determinism
    val d = runOn(numData,
      """SELECT (GROUP_CONCAT(DISTINCT ?k) AS ?ks) WHERE { ?s ex:v ?n . BIND("x" AS ?k) }""")
    assert(d.head("ks") == Lit("x"))
  }

  test("OFFSET slices after ORDER BY, composes with LIMIT in either order") {
    val q1 = runOn(numData, "SELECT ?n WHERE { ?s ex:v ?n . } ORDER BY ?n OFFSET 1 LIMIT 2")
    assert(q1.map(_("n")) == Seq(Lit("3.5", XSD.decimal), Lit("10", XSD.integer)))
    val q2 = runOn(numData, "SELECT ?n WHERE { ?s ex:v ?n . } ORDER BY ?n LIMIT 2 OFFSET 3")
    assert(q2.map(_("n")) == Seq(Lit("b")))
  }

  test("ORDER BY sorts temporal literals by instant (timezone-normalized)") {
    val dtns = "http://www.w3.org/2001/XMLSchema#dateTime"
    val tData =
      s"""@prefix ex: <$ex> .
         |@prefix xsd: <http://www.w3.org/2001/XMLSchema#> .
         |ex:t1 ex:v "2011-01-10T20:00:00Z"^^xsd:dateTime .
         |ex:t2 ex:v "2011-01-10T14:00:00-08:00"^^xsd:dateTime .
         |ex:t3 ex:v "2011-01-10T05:00:00+01:00"^^xsd:dateTime .
         |""".stripMargin
    val rows = runOn(tData, "SELECT ?v WHERE { ?s ex:v ?v . } ORDER BY ?v")
    // instants: t3 = 04:00Z < t1 = 20:00Z < t2 = 22:00Z (lexical would give t2 first)
    assert(rows.map(_("v").asInstanceOf[Lit].lex) ==
      Seq("2011-01-10T05:00:00+01:00", "2011-01-10T20:00:00Z", "2011-01-10T14:00:00-08:00"))
  }

  test("a property path joins into maybe-null UNION rows once") {
    // the path's solutions are joined with the group's rows exactly once:
    // joining them again null-tolerantly would pair the two UNION rows
    val g =
      s"""@prefix ex: <$ex> .
         |ex:a ex:q "v" ; ex:r "w" ; ex:p ex:b .
         |""".stripMargin
    val rows = runOn(g,
      "SELECT ?n ?z ?o WHERE { { ?s ex:q ?n . } UNION { ?s ex:r ?z . } ?s ex:p+ ?o . }")
    assert(rows.map(r => (r.get("n"), r.get("z"), r("o"))).toSet == Set(
      (Some(Lit("v")), None, Iri(ex + "b")), (None, Some(Lit("w")), Iri(ex + "b"))))
    assert(rows.size == 2)
  }

  test("GRAPH <iri> and GRAPH ?g evaluate against named data graphs") {
    val trig =
      s"""@prefix ex: <$ex> .
         |ex:dflt ex:name "D" .
         |GRAPH ex:g1 { ex:a ex:name "A1" . }
         |GRAPH ex:g2 { ex:a ex:name "A2" . ex:b ex:name "B2" . }
         |""".stripMargin
    val quads = QuadsDF.fromQuads(spark, TrigParser.parseGraphQuads(trig, "http://test/"))
    val T = QuadsDF.defaultUnion(quads)
    val frame = new SparqlFrame(spark, T, PathEval.step(T, _, _), Map.empty, None,
      None, Some(quads))
    def q(txt: String): Seq[Map[String, Node]] = {
      val sel = Sparql.parseQuery(txt, Map("ex" -> ex)).asInstanceOf[Sparql.SqSelect]
      val res = frame.evalSelect(sel, frame.unitSeed)
      frame.collect(res, res.vars.filterNot(_.startsWith("__")).toSeq.sorted)
    }
    val g1 = q("SELECT ?n WHERE { GRAPH ex:g1 { ?s ex:name ?n . } }")
    assert(g1.map(_("n")) == Seq(Lit("A1")))
    val byVar = q("SELECT ?g ?s ?n WHERE { GRAPH ?g { ?s ex:name ?n . } } ORDER BY ?n")
    assert(byVar.map(r => (r("g"), r("n"))) == Seq(
      (Iri(ex + "g1"), Lit("A1")), (Iri(ex + "g2"), Lit("A2")), (Iri(ex + "g2"), Lit("B2"))))
    // default-graph triples are NOT visible inside GRAPH ?g
    assert(!byVar.exists(_("n") == Lit("D")))
  }

  test("GRAPH ?g BGP joins stay per-graph scoped; 10k graphs = one fixed plan") {
    // per-graph scoping: name+tag co-located only in g1
    val trig =
      s"""@prefix ex: <$ex> .
         |GRAPH ex:g1 { ex:a ex:name "A" . ex:a ex:tag "T" . }
         |GRAPH ex:g2 { ex:b ex:name "B" . }
         |GRAPH ex:g3 { ex:b ex:tag "T3" . }
         |""".stripMargin
    val quads = QuadsDF.fromQuads(spark, TrigParser.parseGraphQuads(trig, "http://test/"))
    val T = QuadsDF.defaultUnion(quads)
    val frame = new SparqlFrame(spark, T, PathEval.step(T, _, _), Map.empty, None,
      None, Some(quads))
    def sel(txt: String) =
      frame.evalSelect(Sparql.parseQuery(txt, Map("ex" -> ex))
        .asInstanceOf[Sparql.SqSelect], frame.unitSeed)
    val res = sel("SELECT ?g ?s WHERE { GRAPH ?g { ?s ex:name ?n . ?s ex:tag ?t . } }")
    val rows = frame.collect(res, Seq("g", "s"))
    // ex:b has name in g2 but tag in g3 — must NOT match across graphs
    assert(rows == Seq(Map("g" -> Iri(ex + "g1"), "s" -> Iri(ex + "a"))))
    // row-local filters ride the fast path too (whole-group scope)
    val filtered = sel(
      "SELECT ?g ?s WHERE { GRAPH ?g { FILTER(STRLEN(?n) = 1) ?s ex:name ?n . } }")
    assert(frame.collect(filtered, Seq("g")).size == 2) // "A" in g1, "B" in g2

    // scale shape: 10k named graphs must not produce a 10k-branch union
    val many = QuadsDF.fromQuads(spark, (1 to 10000).map(i =>
      Quad(Iri(s"$ex/s$i"), Iri(ex + "name"), Lit(s"n$i"), Some(Iri(s"$ex/g$i")))))
    val frame2 = new SparqlFrame(spark, QuadsDF.defaultUnion(many),
      PathEval.step(QuadsDF.defaultUnion(many), _, _), Map.empty, None, None, Some(many))
    val res2 = frame2.evalSelect(
      Sparql.parseQuery("SELECT ?g ?s ?n WHERE { GRAPH ?g { ?s ex:name ?n . } }",
        Map("ex" -> ex)).asInstanceOf[Sparql.SqSelect], frame2.unitSeed)
    val unions = res2.df.queryExecution.optimizedPlan.collect {
      case u: org.apache.spark.sql.catalyst.plans.logical.Union => u
    }
    assert(unions.isEmpty, "GRAPH ?g over a BGP must not union per-graph branches")
    assert(res2.df.count() == 10000)
  }

  test("unanchored p+ closure works via pairs-seeded kleene") {
    val chain =
      s"""@prefix ex: <$ex> .
         |ex:a ex:p ex:b . ex:b ex:p ex:c . ex:x ex:p ex:y .
         |""".stripMargin
    val rows = runOn(chain,
      "SELECT ?s ?o WHERE { ?s ex:p+ ?o . } ORDER BY ?s ?o")
    assert(rows.map(r => (r("s"), r("o"))) == Seq(
      (Iri(ex + "a"), Iri(ex + "b")), (Iri(ex + "a"), Iri(ex + "c")),
      (Iri(ex + "b"), Iri(ex + "c")), (Iri(ex + "x"), Iri(ex + "y"))))
  }

  test("GRAPH ?g OPTIONAL/UNION blocks ride the join path, scoped per graph") {
    val trig =
      s"""@prefix ex: <$ex> .
         |GRAPH ex:g1 { ex:a ex:name "A" . ex:a ex:tag "T1" . }
         |GRAPH ex:g2 { ex:a ex:name "A2" . }
         |""".stripMargin
    val quads = QuadsDF.fromQuads(spark, TrigParser.parseGraphQuads(trig, "http://test/"))
    val T = QuadsDF.defaultUnion(quads)
    val frame = new SparqlFrame(spark, T, PathEval.step(T, _, _), Map.empty, None,
      None, Some(quads))
    def q(txt: String, out: Seq[String]) = {
      val res = frame.evalSelect(Sparql.parseQuery(txt, Map("ex" -> ex))
        .asInstanceOf[Sparql.SqSelect], frame.unitSeed)
      frame.collect(res, out)
    }
    // OPTIONAL must not leak g1's tag into g2's row
    val opt = q("""SELECT ?g ?n ?t WHERE {
      GRAPH ?g { ?s ex:name ?n . OPTIONAL { ?s ex:tag ?t . } } } ORDER BY ?n""",
      Seq("g", "n", "t"))
    assert(opt.map(r => (r("n"), r.get("t"))) == Seq(
      (Lit("A"), Some(Lit("T1"))), (Lit("A2"), None)))
    // UNION branches evaluate inside the same graph
    val uni = q("""SELECT ?g ?v WHERE {
      GRAPH ?g { { ?s ex:name ?v . } UNION { ?s ex:tag ?v . } } } ORDER BY ?v""",
      Seq("g", "v"))
    assert(uni.map(r => (r("g"), r("v"))) == Seq(
      (Iri(ex + "g1"), Lit("A")), (Iri(ex + "g2"), Lit("A2")),
      (Iri(ex + "g1"), Lit("T1"))))

    // scale shape: 100k per-document graphs with an OPTIONAL-bearing block
    // still compile to one fixed-size plan (the only Unions are the
    // bounded 2-branch matched/unmatched of OPTIONAL, never per-graph)
    val many = QuadsDF.fromQuads(spark, (1 to 100000).flatMap(i =>
      Seq(Quad(Iri(s"$ex/s$i"), Iri(ex + "name"), Lit(s"n$i"), Some(Iri(s"$ex/g$i")))) ++
        (if (i % 2 == 0)
           Seq(Quad(Iri(s"$ex/s$i"), Iri(ex + "tag"), Lit(s"t$i"), Some(Iri(s"$ex/g$i"))))
         else Nil)))
    val manyT = QuadsDF.defaultUnion(many)
    val frame2 = new SparqlFrame(spark, manyT, PathEval.step(manyT, _, _),
      Map.empty, None, None, Some(many))
    val res2 = frame2.evalSelect(Sparql.parseQuery(
      "SELECT ?g ?n ?t WHERE { GRAPH ?g { ?s ex:name ?n . OPTIONAL { ?s ex:tag ?t . } } }",
      Map("ex" -> ex)).asInstanceOf[Sparql.SqSelect], frame2.unitSeed)
    val unions = res2.df.queryExecution.optimizedPlan.collect {
      case u: org.apache.spark.sql.catalyst.plans.logical.Union => u.children.size
    }
    assert(unions.forall(_ <= 2) && unions.size <= 2,
      s"per-graph branches leaked into the plan: union fan-outs $unions")
    assert(res2.df.count() == 100000)
    assert(res2.df.filter(res2.df("t").isNotNull).count() == 50000)
  }

  test("GRAPH ?g with OPTIONAL before the required triple keeps empty-optional graphs") {
    // a leading OPTIONAL rides the single-pass join since r6: its left
    // side is seeded with the named-graph frame, so the left join is
    // per-graph from the first element and g2 (no tag) still appears with
    // ?t unbound — per SPARQL algebra Join(LeftJoin(Z, tag), name)
    val trig =
      s"""@prefix ex: <$ex> .
         |GRAPH ex:g1 { ex:a ex:name "A" . ex:a ex:tag "T1" . }
         |GRAPH ex:g2 { ex:a ex:name "A2" . }
         |""".stripMargin
    val quads = QuadsDF.fromQuads(spark, TrigParser.parseGraphQuads(trig, "http://test/"))
    val T = QuadsDF.defaultUnion(quads)
    val frame = new SparqlFrame(spark, T, PathEval.step(T, _, _), Map.empty, None,
      None, Some(quads))
    val res = frame.evalSelect(Sparql.parseQuery(
      """SELECT ?g ?n ?t WHERE {
        |  GRAPH ?g { OPTIONAL { ?s ex:tag ?t . } ?s ex:name ?n . } } ORDER BY ?n""".stripMargin,
      Map("ex" -> ex)).asInstanceOf[Sparql.SqSelect], frame.unitSeed)
    val rows = frame.collect(res, Seq("g", "n", "t"))
    assert(rows.map(r => (r("n"), r.get("t"))) == Seq(
      (Lit("A"), Some(Lit("T1"))), (Lit("A2"), None)))
    // OPTIONAL-only block: every named graph contributes a row (Z per
    // graph), tag bound only where present
    val only = frame.evalSelect(Sparql.parseQuery(
      "SELECT ?g ?t WHERE { GRAPH ?g { OPTIONAL { ?s ex:tag ?t . } } } ORDER BY ?g",
      Map("ex" -> ex)).asInstanceOf[Sparql.SqSelect], frame.unitSeed)
    val orows = frame.collect(only, Seq("g", "t"))
    assert(orows.map(r => (r("g"), r.get("t"))) == Seq(
      (Iri(ex + "g1"), Some(Lit("T1"))), (Iri(ex + "g2"), None)))
  }

  test("GRAPH ?g leading OPTIONAL at 100k graphs: fixed-size plan, no loop") {
    // per-document-graph corpus with a LEADING optional compiles to one
    // fixed-size plan (the only Unions are OPTIONAL's bounded
    // matched/unmatched pair)
    val many = QuadsDF.fromQuads(spark, (1 to 100000).flatMap(i =>
      Seq(Quad(Iri(s"$ex/s$i"), Iri(ex + "name"), Lit(s"n$i"), Some(Iri(s"$ex/g$i")))) ++
        (if (i % 2 == 0)
           Seq(Quad(Iri(s"$ex/s$i"), Iri(ex + "tag"), Lit(s"t$i"), Some(Iri(s"$ex/g$i"))))
         else Nil)))
    val manyT = QuadsDF.defaultUnion(many)
    val frame2 = new SparqlFrame(spark, manyT, PathEval.step(manyT, _, _),
      Map.empty, None, None, Some(many))
    val res2 = frame2.evalSelect(Sparql.parseQuery(
      "SELECT ?g ?n ?t WHERE { GRAPH ?g { OPTIONAL { ?s ex:tag ?t . } ?s ex:name ?n . } }",
      Map("ex" -> ex)).asInstanceOf[Sparql.SqSelect], frame2.unitSeed)
    val unions = res2.df.queryExecution.optimizedPlan.collect {
      case u: org.apache.spark.sql.catalyst.plans.logical.Union => u.children.size
    }
    assert(unions.forall(_ <= 2) && unions.size <= 2,
      s"per-graph branches leaked into the plan: union fan-outs $unions")
    assert(res2.df.count() == 100000)
    assert(res2.df.filter(res2.df("t").isNotNull).count() == 50000)
  }

  test("GRAPH ?g sub-selects ride the quad path: per-graph GROUP BY, projection, fallback") {
    val trig =
      s"""@prefix ex: <$ex> .
         |GRAPH ex:g1 { ex:a ex:name "A" . ex:a ex:tag "T1" . ex:a ex:tag "T2" .
         |              ex:b ex:name "B" . }
         |GRAPH ex:g2 { ex:a ex:name "A2" . }
         |""".stripMargin
    val quads = QuadsDF.fromQuads(spark, TrigParser.parseGraphQuads(trig, "http://test/"))
    val T = QuadsDF.defaultUnion(quads)
    val frame = new SparqlFrame(spark, T, PathEval.step(T, _, _), Map.empty, None,
      None, Some(quads))
    def q(txt: String, out: Seq[String]) = {
      val res = frame.evalSelect(Sparql.parseQuery(txt, Map("ex" -> ex))
        .asInstanceOf[Sparql.SqSelect], frame.unitSeed)
      frame.collect(res, out)
    }
    // GROUP BY sub-select aggregates PER GRAPH (g1: a has 2 tags; b has no
    // tag group so the join drops it; g2: no tags at all)
    val agg = q("""SELECT ?g ?s ?n WHERE { GRAPH ?g {
      ?s ex:name ?x . { SELECT ?s (COUNT(?t) AS ?n) WHERE { ?s ex:tag ?t . } GROUP BY ?s } } }""",
      Seq("g", "s", "n"))
    assert(agg.map(r => (r("g"), r("s"), r("n"))) ==
      Seq((Iri(ex + "g1"), Iri(ex + "a"), Lit("2", XSD.integer))))
    // sub-select projecting an unbound ?g: compatible with (and overridden
    // by) the graph binding
    val proj = q("""SELECT ?g ?s WHERE { GRAPH ?g {
      { SELECT ?g ?s WHERE { ?s ex:tag ?t . } } } } ORDER BY ?g ?s""",
      Seq("g", "s"))
    assert(proj.map(r => (r("g"), r("s"))).distinct ==
      Seq((Iri(ex + "g1"), Iri(ex + "a"))))
    // LIMIT/OFFSET sub-selects slice PER GRAPH on the quad path (late-r6
    // lift: project's sliceBy ranks within the hidden graph var) — first
    // name per graph in ORDER BY order, one plan, no per-graph Union
    val limSol = frame.evalSelect(Sparql.parseQuery(
      """SELECT ?g ?s WHERE { GRAPH ?g {
      { SELECT ?s WHERE { ?s ex:name ?x . } ORDER BY ?s LIMIT 1 } } } ORDER BY ?g""",
      Map("ex" -> ex)).asInstanceOf[Sparql.SqSelect], frame.unitSeed)
    assert(limSol.df.queryExecution.optimizedPlan.collect {
      case u: org.apache.spark.sql.catalyst.plans.logical.Union => u
    }.isEmpty, "LIMIT sub-select took the per-graph loop")
    val lim = frame.collect(limSol, Seq("g", "s"))
    assert(lim.map(r => (r("g"), r("s"))) ==
      Seq((Iri(ex + "g1"), Iri(ex + "a")), (Iri(ex + "g2"), Iri(ex + "a"))))
    // OFFSET skips per graph: the SECOND name exists only in g1
    val off = q("""SELECT ?g ?s WHERE { GRAPH ?g {
      { SELECT ?s WHERE { ?s ex:name ?x . } ORDER BY ?s LIMIT 1 OFFSET 1 } } }""",
      Seq("g", "s"))
    assert(off.map(r => (r("g"), r("s"))) == Seq((Iri(ex + "g1"), Iri(ex + "b"))))
    // no ORDER BY: any one solution per graph is conformant — assert the
    // count and that the pick is deterministic across evaluations
    val any1 = q("""SELECT ?g ?s WHERE { GRAPH ?g {
      { SELECT ?s WHERE { ?s ex:name ?x . } LIMIT 1 } } }""", Seq("g", "s"))
    val any2 = q("""SELECT ?g ?s WHERE { GRAPH ?g {
      { SELECT ?s WHERE { ?s ex:name ?x . } LIMIT 1 } } }""", Seq("g", "s"))
    assert(any1.size == 2 && any1 == any2)
  }

  test("GRAPH ?g LIMIT sub-select at 10k graphs: one plan, top-1 per graph") {
    val n = 10000
    val many = QuadsDF.fromQuads(spark, (1 to n).flatMap(i =>
      Seq(Quad(Iri(s"$ex/s${i}a"), Iri(ex + "name"), Lit(s"n${i}a"), Some(Iri(s"$ex/g$i"))),
        Quad(Iri(s"$ex/s${i}b"), Iri(ex + "name"), Lit(s"n${i}b"), Some(Iri(s"$ex/g$i"))))))
    val manyT = QuadsDF.defaultUnion(many)
    val frame = new SparqlFrame(spark, manyT, PathEval.step(manyT, _, _),
      Map.empty, None, None, Some(many))
    val res = frame.evalSelect(Sparql.parseQuery(
      """SELECT ?g ?s WHERE { GRAPH ?g {
        |  { SELECT ?s WHERE { ?s ex:name ?x . } ORDER BY ?s LIMIT 1 } } }""".stripMargin,
      Map("ex" -> ex)).asInstanceOf[Sparql.SqSelect], frame.unitSeed)
    val unions = res.df.queryExecution.optimizedPlan.collect {
      case u: org.apache.spark.sql.catalyst.plans.logical.Union => u.children.size
    }
    assert(unions.isEmpty, s"per-graph branches leaked into the plan: $unions")
    assert(res.df.count() == n)
    // ORDER BY ?s ascending -> every survivor is the 'a' subject
    assert(res.df.filter(res.df("s")("v").endsWith("b")).count() == 0)
  }

  test("nested GRAPH ?h inside GRAPH ?g: inner re-scopes, outer ranges over all graphs") {
    val trig =
      s"""@prefix ex: <$ex> .
         |GRAPH ex:g1 { ex:a ex:p ex:b . }
         |GRAPH ex:g2 { ex:c ex:p ex:d . }
         |""".stripMargin
    val quads = QuadsDF.fromQuads(spark, TrigParser.parseGraphQuads(trig, "http://test/"))
    val T = QuadsDF.defaultUnion(quads)
    val frame = new SparqlFrame(spark, T, PathEval.step(T, _, _), Map.empty, None,
      None, Some(quads))
    val res = frame.evalSelect(Sparql.parseQuery(
      "SELECT ?g ?h ?s WHERE { GRAPH ?g { GRAPH ?h { ?s ex:p ?o . } } } ORDER BY ?g ?h",
      Map("ex" -> ex)).asInstanceOf[Sparql.SqSelect], frame.unitSeed)
    val rows = frame.collect(res, Seq("g", "h", "s"))
    // inner GRAPH ignores the outer active graph; ?g is the cross product
    // with the named-graph catalog (SPARQL: P is independent of g)
    assert(rows.map(r => (r("g"), r("h"), r("s"))).toSet == Set(
      (Iri(ex + "g1"), Iri(ex + "g1"), Iri(ex + "a")),
      (Iri(ex + "g1"), Iri(ex + "g2"), Iri(ex + "c")),
      (Iri(ex + "g2"), Iri(ex + "g1"), Iri(ex + "a")),
      (Iri(ex + "g2"), Iri(ex + "g2"), Iri(ex + "c"))))
    // same-var nesting degenerates to the inner scoping via the shared join
    val same = frame.evalSelect(Sparql.parseQuery(
      "SELECT ?g ?s WHERE { GRAPH ?g { GRAPH ?g { ?s ex:p ?o . } } } ORDER BY ?g",
      Map("ex" -> ex)).asInstanceOf[Sparql.SqSelect], frame.unitSeed)
    val srows = frame.collect(same, Seq("g", "s"))
    assert(srows.map(r => (r("g"), r("s"))) ==
      Seq((Iri(ex + "g1"), Iri(ex + "a")), (Iri(ex + "g2"), Iri(ex + "c"))))
    // group FILTERs see the SEEDED ?g (r6 self-review #1): a block whose
    // only pattern is nested GRAPH must still bind ?g before FILTER runs
    val filt = frame.evalSelect(Sparql.parseQuery(
      "SELECT ?g ?h WHERE { GRAPH ?g { GRAPH ?h { ?s ex:p ?o . } FILTER(?g != ?h) } }",
      Map("ex" -> ex)).asInstanceOf[Sparql.SqSelect], frame.unitSeed)
    val frows = frame.collect(filt, Seq("g", "h"))
    assert(frows.map(r => (r("g"), r("h"))).toSet == Set(
      (Iri(ex + "g1"), Iri(ex + "g2")), (Iri(ex + "g2"), Iri(ex + "g1"))))
  }

  test("nested GRAPH $shapesGraph inside GRAPH ?g keeps the shapes-frame special case") {
    // $shapesGraph re-scoping must NOT ride the quad path (it swaps to the
    // shapes triples frame, not a named data graph) — r6 self-review #2
    val trig =
      s"""@prefix ex: <$ex> .
         |GRAPH ex:g1 { ex:a ex:p ex:b . }
         |GRAPH ex:g2 { ex:c ex:p ex:d . }
         |""".stripMargin
    val quads = QuadsDF.fromQuads(spark, TrigParser.parseGraphQuads(trig, "http://test/"))
    val T = QuadsDF.defaultUnion(quads)
    val shapes = TriplesDF.fromMemGraph(spark, TurtleParser.parseGraph(
      s"""@prefix ex: <$ex> . ex:shape1 ex:q "S" .""", "http://test/"))
    val frame = new SparqlFrame(spark, T, PathEval.step(T, _, _), Map.empty, None,
      Some(shapes), Some(quads))
    val res = frame.evalSelect(Sparql.parseQuery(
      """SELECT ?g ?s ?sh ?v WHERE { GRAPH ?g { ?s ex:p ?o .
        |  GRAPH ?shapesGraph { ?sh ex:q ?v . } } } ORDER BY ?g""".stripMargin,
      Map("ex" -> ex)).asInstanceOf[Sparql.SqSelect], frame.unitSeed)
    val rows = frame.collect(res, Seq("g", "s", "sh", "v"))
    // shapes triple must come from the SHAPES frame (ex:shape1/"S"), and
    // ?g must range over the data graphs only
    assert(rows.map(r => (r("g"), r("s"), r("sh"), r("v"))) == Seq(
      (Iri(ex + "g1"), Iri(ex + "a"), Iri(ex + "shape1"), Lit("S")),
      (Iri(ex + "g2"), Iri(ex + "c"), Iri(ex + "shape1"), Lit("S"))))
  }

  test("GRAPH ?g GROUP BY sub-select at 10k graphs: fixed-size plan, no loop") {
    val many = QuadsDF.fromQuads(spark, (1 to 10000).flatMap(i =>
      Seq(Quad(Iri(s"$ex/s$i"), Iri(ex + "name"), Lit(s"n$i"), Some(Iri(s"$ex/g$i"))),
        Quad(Iri(s"$ex/s$i"), Iri(ex + "tag"), Lit(s"t$i"), Some(Iri(s"$ex/g$i")))) ++
        (if (i % 2 == 0)
           Seq(Quad(Iri(s"$ex/s$i"), Iri(ex + "tag"), Lit(s"u$i"), Some(Iri(s"$ex/g$i"))))
         else Nil)))
    val manyT = QuadsDF.defaultUnion(many)
    val frame2 = new SparqlFrame(spark, manyT, PathEval.step(manyT, _, _),
      Map.empty, None, None, Some(many))
    val res2 = frame2.evalSelect(Sparql.parseQuery(
      """SELECT ?g ?s ?n WHERE { GRAPH ?g {
        ?s ex:name ?x . { SELECT ?s (COUNT(?t) AS ?n) WHERE { ?s ex:tag ?t . } GROUP BY ?s } } }""",
      Map("ex" -> ex)).asInstanceOf[Sparql.SqSelect], frame2.unitSeed)
    val unions = res2.df.queryExecution.optimizedPlan.collect {
      case u: org.apache.spark.sql.catalyst.plans.logical.Union => u.children.size
    }
    assert(unions.isEmpty, s"per-graph branches leaked into the plan: $unions")
    assert(res2.df.count() == 10000)
  }

  test("PInv of a COMPOSITE path evaluates the inverse, not the forward path") {
    // parsers normalize PInv to leaf level, so build the AST directly:
    // a p b . b q c .  — inverse of (p/q) anchored at c must reach a
    val ttl = s"""@prefix ex: <$ex> .
                 |ex:a ex:p ex:b . ex:b ex:q ex:c .""".stripMargin
    val T = TriplesDF.fromMemGraph(spark, TurtleParser.parseGraph(ttl, "http://test/"))
    import org.apache.spark.sql.functions.{col, lit, struct}
    val frontier = spark.range(1).select(
      struct(lit(ex + "c").as("v"), lit(0.toByte).as("k"),
        lit("").as("dt"), lit("").as("lang")).as("f"))
      .select(col("f"), col("f").as("v"))
    val inv = PathIR.PInv(PathIR.PSeq(List(
      PathIR.PPred(ex + "p"), PathIR.PPred(ex + "q"))))
    val out = PathEval.step(T, frontier, inv)
      .select(col("v")("v")).collect().map(_.getString(0)).toSeq
    assert(out == Seq(ex + "a"), s"expected inverse walk to reach ex:a, got $out")
  }

  test("GRAPH ?g property paths walk per graph in ONE pass (incl. closure)") {
    // chains live in separate graphs; a+ must not hop across graphs
    val trig =
      s"""@prefix ex: <$ex> .
         |GRAPH ex:g1 { ex:a ex:p ex:b . ex:b ex:p ex:c . }
         |GRAPH ex:g2 { ex:c ex:p ex:d . }
         |""".stripMargin
    val quads = QuadsDF.fromQuads(spark, TrigParser.parseGraphQuads(trig, "http://test/"))
    val T = QuadsDF.defaultUnion(quads)
    val frame = new SparqlFrame(spark, T, PathEval.step(T, _, _), Map.empty, None,
      None, Some(quads))
    def q(txt: String, out: Seq[String]) = {
      val res = frame.evalSelect(Sparql.parseQuery(txt, Map("ex" -> ex))
        .asInstanceOf[Sparql.SqSelect], frame.unitSeed)
      frame.collect(res, out)
    }
    // anchored closure: from ex:a, within any single graph
    val cl = q("SELECT ?g ?o WHERE { GRAPH ?g { ex:a ex:p+ ?o . } } ORDER BY ?o",
      Seq("g", "o"))
    assert(cl.map(r => (r("g"), r("o"))) == Seq(
      (Iri(ex + "g1"), Iri(ex + "b")), (Iri(ex + "g1"), Iri(ex + "c"))))
    // sequence path, per graph, unanchored (pairs scan keyed by g)
    val sq = q("SELECT ?g ?s ?o WHERE { GRAPH ?g { ?s ex:p/ex:p ?o . } }",
      Seq("g", "s", "o"))
    assert(sq.map(r => (r("g"), r("s"), r("o"))) == Seq(
      (Iri(ex + "g1"), Iri(ex + "a"), Iri(ex + "c"))))
    // the graph var joins against other patterns' bindings of ?g
    val joined = q("""SELECT ?g ?o WHERE {
      GRAPH ?g { ?x ex:p ex:d . ex:c ex:p+ ?o . } }""", Seq("g", "o"))
    assert(joined.map(r => (r("g"), r("o"))) == Seq((Iri(ex + "g2"), Iri(ex + "d"))))

    // scale shape: closure over 50k per-document graphs = ONE fixpoint,
    // not one plan branch per graph (correct counts)
    val many = QuadsDF.fromQuads(spark, (1 to 50000).flatMap(i =>
      Seq(Quad(Iri(s"$ex/a$i"), Iri(ex + "p"), Iri(s"$ex/b$i"), Some(Iri(s"$ex/g$i"))),
        Quad(Iri(s"$ex/b$i"), Iri(ex + "p"), Iri(s"$ex/c$i"), Some(Iri(s"$ex/g$i"))))))
    val manyT = QuadsDF.defaultUnion(many)
    val frame2 = new SparqlFrame(spark, manyT, PathEval.step(manyT, _, _),
      Map.empty, None, None, Some(many))
    val res2 = frame2.evalSelect(Sparql.parseQuery(
      "SELECT ?g ?s ?o WHERE { GRAPH ?g { ?s ex:q ?z . ?s ex:p+ ?o . } }",
      Map("ex" -> ex)).asInstanceOf[Sparql.SqSelect], frame2.unitSeed)
    assert(res2.df.count() == 0) // no ex:q edges — but the plan compiled
    val res3 = frame2.evalSelect(Sparql.parseQuery(
      "SELECT ?g ?s ?o WHERE { GRAPH ?g { ?s ex:p+ ?o . } }",
      Map("ex" -> ex)).asInstanceOf[Sparql.SqSelect], frame2.unitSeed)
    assert(res3.df.count() == 150000L) // a->b, b->c, a->c per graph
  }

  test("EXISTS inside GRAPH ?g correlates per graph on the quad path") {
    // subject ex:a has a tag in g1 but NOT in g2 — union-graph evaluation
    // of the EXISTS body would wrongly keep g2's row
    val trig =
      s"""@prefix ex: <$ex> .
         |GRAPH ex:g1 { ex:a ex:name "A" . ex:a ex:tag "T1" . }
         |GRAPH ex:g2 { ex:a ex:name "A2" . ex:b ex:name "B" . ex:b ex:tag "TB" . }
         |""".stripMargin
    val quads = QuadsDF.fromQuads(spark, TrigParser.parseGraphQuads(trig, "http://test/"))
    val T = QuadsDF.defaultUnion(quads)
    val frame = new SparqlFrame(spark, T, PathEval.step(T, _, _), Map.empty, None,
      None, Some(quads))
    def q(txt: String, out: Seq[String]) = {
      val res = frame.evalSelect(Sparql.parseQuery(txt, Map("ex" -> ex))
        .asInstanceOf[Sparql.SqSelect], frame.unitSeed)
      frame.collect(res, out)
    }
    val ex1 = q("""SELECT ?g ?n WHERE { GRAPH ?g {
      ?s ex:name ?n . FILTER EXISTS { ?s ex:tag ?t . } } } ORDER BY ?n""", Seq("g", "n"))
    assert(ex1.map(r => (r("g"), r("n"))) == Seq(
      (Iri(ex + "g1"), Lit("A")), (Iri(ex + "g2"), Lit("B"))))
    val ex2 = q("""SELECT ?g ?n WHERE { GRAPH ?g {
      ?s ex:name ?n . FILTER NOT EXISTS { ?s ex:tag ?t . } } } ORDER BY ?n""", Seq("g", "n"))
    assert(ex2.map(r => (r("g"), r("n"))) == Seq((Iri(ex + "g2"), Lit("A2"))))
  }

  test("EXISTS inside GRAPH ?g at 10k graphs: one plan, no per-graph branches") {
    // 10k per-document graphs: the plan must stay one fixed size (no
    // per-graph Union branches), and the counts must be per graph
    val n = 10000
    val many = QuadsDF.fromQuads(spark, (1 to n).flatMap(i =>
      Seq(Quad(Iri(s"$ex/s$i"), Iri(ex + "name"), Lit(s"n$i"), Some(Iri(s"$ex/g$i")))) ++
        (if (i % 4 == 0)
           Seq(Quad(Iri(s"$ex/s$i"), Iri(ex + "tag"), Lit(s"t$i"), Some(Iri(s"$ex/g$i"))))
         else Nil)))
    val manyT = QuadsDF.defaultUnion(many)
    val frame = new SparqlFrame(spark, manyT, PathEval.step(manyT, _, _),
      Map.empty, None, None, Some(many))
    val res = frame.evalSelect(Sparql.parseQuery(
      """SELECT ?g ?n WHERE { GRAPH ?g {
        |  ?s ex:name ?n . FILTER EXISTS { ?s ex:tag ?t . } } }""".stripMargin,
      Map("ex" -> ex)).asInstanceOf[Sparql.SqSelect], frame.unitSeed)
    val unions = res.df.queryExecution.optimizedPlan.collect {
      case u: org.apache.spark.sql.catalyst.plans.logical.Union => u.children.size
    }
    assert(unions.isEmpty, s"per-graph branches leaked into the plan: $unions")
    assert(res.df.count() == n / 4)
    val neg = frame.evalSelect(Sparql.parseQuery(
      """SELECT ?g ?n WHERE { GRAPH ?g {
        |  ?s ex:name ?n . FILTER NOT EXISTS { ?s ex:tag ?t . } } }""".stripMargin,
      Map("ex" -> ex)).asInstanceOf[Sparql.SqSelect], frame.unitSeed)
    assert(neg.df.count() == n - n / 4)
  }

  test("EXISTS nested inside expressions: ||, !, BIND, per-graph on the quad path") {
    val trig =
      s"""@prefix ex: <$ex> .
         |GRAPH ex:g1 { ex:a ex:name "A" . ex:a ex:tag "T" . ex:b ex:name "B" . }
         |GRAPH ex:g2 { ex:a ex:name "A2" . ex:a ex:flag "F" . }
         |""".stripMargin
    val quads = QuadsDF.fromQuads(spark, TrigParser.parseGraphQuads(trig, "http://test/"))
    val T = QuadsDF.defaultUnion(quads)
    val frame = new SparqlFrame(spark, T, PathEval.step(T, _, _), Map.empty, None,
      None, Some(quads))
    def sol(txt: String) = frame.evalSelect(Sparql.parseQuery(txt, Map("ex" -> ex))
      .asInstanceOf[Sparql.SqSelect], frame.unitSeed)
    def q(txt: String, out: Seq[String]) = frame.collect(sol(txt), out)
    // union-graph path: EXISTS || EXISTS inside one FILTER expression
    val or = q("""SELECT ?s ?n WHERE { ?s ex:name ?n .
      FILTER(EXISTS { ?s ex:tag ?t . } || EXISTS { ?s ex:flag ?f . }) } ORDER BY ?n""",
      Seq("s", "n"))
    assert(or.map(_("n")) == Seq(Lit("A"), Lit("A2"))) // b has neither
    // BIND(EXISTS AS ?b): a boolean term per row, true/false both present
    val bind = q("""SELECT ?n ?b WHERE { ?s ex:name ?n .
      BIND(EXISTS { ?s ex:tag ?t . } AS ?b) } ORDER BY ?n""", Seq("n", "b"))
    assert(bind.map(r => (r("n"), r("b"))) == Seq(
      (Lit("A"), Lit("true", XSD.boolean)), (Lit("A2"), Lit("true", XSD.boolean)),
      (Lit("B"), Lit("false", XSD.boolean))))
    // quad path: EXISTS under || inside GRAPH ?g correlates PER GRAPH —
    // ex:a has a tag in g1 only; g2's row survives via the other disjunct
    val gqSol = sol("""SELECT ?g ?n WHERE { GRAPH ?g { ?s ex:name ?n .
      FILTER(EXISTS { ?s ex:tag ?t . } || ?n = "A2") } } ORDER BY ?n""")
    assert(gqSol.df.queryExecution.optimizedPlan.collect {
      case u: org.apache.spark.sql.catalyst.plans.logical.Union => u
    }.isEmpty, "nested-EXISTS filter took the per-graph loop")
    assert(frame.collect(gqSol, Seq("g", "n")).map(r => (r("g"), r("n"))) ==
      Seq((Iri(ex + "g1"), Lit("A")), (Iri(ex + "g2"), Lit("A2"))))
    // negation through ! inside the expression (not the top-level
    // NOT EXISTS case): per-graph absence
    val neg = q("""SELECT ?g ?n WHERE { GRAPH ?g { ?s ex:name ?n .
      FILTER(!EXISTS { ?s ex:tag ?t . } && ?n != "X") } } ORDER BY ?n""",
      Seq("g", "n"))
    assert(neg.map(r => (r("g"), r("n"))) ==
      Seq((Iri(ex + "g2"), Lit("A2")), (Iri(ex + "g1"), Lit("B"))))
    // BIND(EXISTS AS ?b) inside GRAPH ?g: the marker correlates per graph
    // (ex:a has a tag in g1 but not g2) and stays on the single-pass plan
    val bg = sol("""SELECT ?g ?n ?b WHERE { GRAPH ?g { ?s ex:name ?n .
      BIND(EXISTS { ?s ex:tag ?t . } AS ?b) } } ORDER BY ?n""")
    assert(bg.df.queryExecution.optimizedPlan.collect {
      case u: org.apache.spark.sql.catalyst.plans.logical.Union => u
    }.isEmpty, "BIND-over-EXISTS took the per-graph loop")
    assert(frame.collect(bg, Seq("g", "n", "b")).map(r => (r("n"), r("b"))) == Seq(
      (Lit("A"), Lit("true", XSD.boolean)), (Lit("A2"), Lit("false", XSD.boolean)),
      (Lit("B"), Lit("false", XSD.boolean))))
  }

  test("EXISTS body with a GRAPH pattern keeps GRAPH <iri> off the quad path") {
    // the EXISTS body's GRAPH ?h must range over ALL named graphs; over
    // the g1-filtered frame of the enclosing GRAPH ex:g1 it would find
    // nothing
    val trig =
      s"""@prefix ex: <$ex> .
         |GRAPH ex:g1 { ex:a ex:p ex:b . }
         |GRAPH ex:g2 { ex:b ex:q ex:c . }
         |GRAPH ex:g3 { ex:x ex:p ex:y . }
         |""".stripMargin
    val quads = QuadsDF.fromQuads(spark, TrigParser.parseGraphQuads(trig, "http://test/"))
    val T = QuadsDF.defaultUnion(quads)
    val frame = new SparqlFrame(spark, T, PathEval.step(T, _, _), Map.empty, None,
      None, Some(quads))
    val res = frame.evalSelect(Sparql.parseQuery(
      """SELECT ?g ?s WHERE { GRAPH ?g { GRAPH ex:g1 { ?s ex:p ?o .
        |  FILTER(EXISTS { GRAPH ?h { ?o ex:q ?z . } } || ?s = ex:none) } } }""".stripMargin,
      Map("ex" -> ex)).asInstanceOf[Sparql.SqSelect], frame.unitSeed)
    val rows = frame.collect(res, Seq("g", "s"))
    // inner block: only g1's a->b, kept because b ex:q c EXISTS in g2;
    // outer ?g cross-seeds over all three named graphs
    assert(rows.map(_("s")).distinct == Seq(Iri(ex + "a")) && rows.size == 3)
  }

  test("leading BIND over ?g inside GRAPH ?g sees the graph binding") {
    val trig =
      s"""@prefix ex: <$ex> .
         |GRAPH ex:g1 { ex:a ex:p ex:b . }
         |GRAPH ex:g2 { ex:c ex:p ex:d . }
         |""".stripMargin
    val quads = QuadsDF.fromQuads(spark, TrigParser.parseGraphQuads(trig, "http://test/"))
    val T = QuadsDF.defaultUnion(quads)
    val frame = new SparqlFrame(spark, T, PathEval.step(T, _, _), Map.empty, None,
      None, Some(quads))
    val res = frame.evalSelect(Sparql.parseQuery(
      """SELECT ?g ?u WHERE { GRAPH ?g { BIND(STR(?g) AS ?u) ?s ex:p ?o . } }
        |ORDER BY ?u""".stripMargin,
      Map("ex" -> ex)).asInstanceOf[Sparql.SqSelect], frame.unitSeed)
    val rows = frame.collect(res, Seq("g", "u"))
    assert(rows.map(r => (r("g"), r("u"))) == Seq(
      (Iri(ex + "g1"), Lit(ex + "g1")), (Iri(ex + "g2"), Lit(ex + "g2"))))
  }

  test("nested GRAPH <iri> rides the quad path: one filtered evaluation, no loop") {
    val trig =
      s"""@prefix ex: <$ex> .
         |GRAPH ex:g1 { ex:b ex:p ex:c . }
         |GRAPH ex:g2 { ex:a ex:p ex:b . ex:b ex:p ex:z . }
         |""".stripMargin
    val quads = QuadsDF.fromQuads(spark, TrigParser.parseGraphQuads(trig, "http://test/"))
    val T = QuadsDF.defaultUnion(quads)
    val frame = new SparqlFrame(spark, T, PathEval.step(T, _, _), Map.empty, None,
      None, Some(quads))
    // ?o must continue in g1 SPECIFICALLY: g2's b->z must not satisfy the
    // inner block, and the outer ?g ranges over graphs with a matching ?s
    val sol = frame.evalSelect(Sparql.parseQuery(
      """SELECT ?g ?s ?z WHERE { GRAPH ?g { ?s ex:p ?o .
        |  GRAPH ex:g1 { ?o ex:p ?z . } } } ORDER BY ?g ?s""".stripMargin,
      Map("ex" -> ex)).asInstanceOf[Sparql.SqSelect], frame.unitSeed)
    assert(sol.df.queryExecution.optimizedPlan.collect {
      case u: org.apache.spark.sql.catalyst.plans.logical.Union => u
    }.isEmpty, "nested GRAPH <iri> took the per-graph loop")
    val rows = frame.collect(sol, Seq("g", "s", "z"))
    assert(rows.map(r => (r("g"), r("s"), r("z"))) ==
      Seq((Iri(ex + "g2"), Iri(ex + "a"), Iri(ex + "c"))))
    // scale shape: the same nesting over 1001 graphs compiles single-pass
    val many = QuadsDF.fromQuads(spark,
      (1 to 1001).map(i =>
        Quad(Iri(s"$ex/s$i"), Iri(ex + "p"), Iri(s"$ex/o$i"), Some(Iri(s"$ex/g$i")))) :+
        Quad(Iri(s"$ex/o7"), Iri(ex + "p"), Iri(s"$ex/z7"), Some(Iri(ex + "g1"))))
    val manyT = QuadsDF.defaultUnion(many)
    val frame2 = new SparqlFrame(spark, manyT, PathEval.step(manyT, _, _),
      Map.empty, None, None, Some(many))
    val res2 = frame2.evalSelect(Sparql.parseQuery(
      """SELECT ?g ?s WHERE { GRAPH ?g { ?s ex:p ?o .
        |  GRAPH ex:g1 { ?o ex:p ?z . } } }""".stripMargin,
      Map("ex" -> ex)).asInstanceOf[Sparql.SqSelect], frame2.unitSeed)
    assert(res2.df.count() == 1) // only s7's object continues in g1
  }

  test("global-aggregate sub-select inside GRAPH ?g: per-graph with empty-group rows") {
    val trig =
      s"""@prefix ex: <$ex> .
         |GRAPH ex:g1 { ex:a ex:name "A" . ex:a ex:tag "T1" . ex:a ex:tag "T2" .
         |              ex:a ex:num 7 . ex:a ex:num 3 .
         |              ex:b ex:name "B" . }
         |GRAPH ex:g2 { ex:a ex:name "A2" . ex:a ex:hasMin 9 . }
         |""".stripMargin
    val quads = QuadsDF.fromQuads(spark, TrigParser.parseGraphQuads(trig, "http://test/"))
    val T = QuadsDF.defaultUnion(quads)
    val frame = new SparqlFrame(spark, T, PathEval.step(T, _, _), Map.empty, None,
      None, Some(quads))
    def q(txt: String, out: Seq[String]) = {
      val res = frame.evalSelect(Sparql.parseQuery(txt, Map("ex" -> ex))
        .asInstanceOf[Sparql.SqSelect], frame.unitSeed)
      frame.collect(res, out)
    }
    // COUNT over {} = 0: g2 has no tags but its rows must still appear
    val cnt = q("""SELECT ?g ?x ?n WHERE { GRAPH ?g { ?s ex:name ?x .
      { SELECT (COUNT(?t) AS ?n) WHERE { ?q ex:tag ?t . } } } } ORDER BY ?x""",
      Seq("g", "x", "n"))
    assert(cnt.map(r => (r("x"), r("n"))) == Seq(
      (Lit("A"), Lit("2", XSD.integer)), (Lit("A2"), Lit("0", XSD.integer)),
      (Lit("B"), Lit("2", XSD.integer))))
    // projection expressions over the filled aggregate: COUNT + 1
    val plus = q("""SELECT ?g ?x ?m WHERE { GRAPH ?g { ?s ex:name ?x .
      { SELECT (COUNT(?t) + 1 AS ?m) WHERE { ?q ex:tag ?t . } } } } ORDER BY ?x""",
      Seq("g", "x", "m"))
    assert(plus.map(r => r("m")) == Seq(
      Lit("3", XSD.integer), Lit("1", XSD.integer), Lit("3", XSD.integer)))
    // MIN over {} is unbound — the row exists, the var does not bind
    // (bound per graph where values exist: min(7, 3) = 3 in g1)
    val mn = q("""SELECT ?g ?x ?mn WHERE { GRAPH ?g { ?s ex:name ?x .
      { SELECT (MIN(?v) AS ?mn) WHERE { ?q ex:num ?v . } } } } ORDER BY ?x""",
      Seq("g", "x", "mn"))
    assert(mn.map(r => (r("x"), r.get("mn").map(_.asInstanceOf[Lit].lex))) == Seq(
      (Lit("A"), Some("3")), (Lit("A2"), None), (Lit("B"), Some("3"))))
    // AVG over {} = 0 per SPARQL 18.5.1.4 (NOT unbound — rdflib agrees)
    val av = q("""SELECT ?g ?x ?a WHERE { GRAPH ?g { ?s ex:name ?x .
      { SELECT (AVG(?v) AS ?a) WHERE { ?q ex:num ?v . } } } } ORDER BY ?x""",
      Seq("g", "x", "a"))
    assert(av.map(r => r("a").asInstanceOf[Lit].lex.toDouble) == Seq(5.0, 0.0, 5.0))
    // an unbound filled aggregate joins SPARQL-compatibly with an outer
    // binding of the same name (maybeNull, not strict-equality-drop):
    // only g2 binds ?mn2 from data, and its sub-select MIN is unbound
    val shared = q("""SELECT ?g ?mn2 WHERE { GRAPH ?g { ?s ex:hasMin ?mn2 .
      { SELECT (MIN(?v) AS ?mn2) WHERE { ?q ex:num ?v . } } } }""",
      Seq("g", "mn2"))
    assert(shared.map(r => (r("g"), r("mn2").asInstanceOf[Lit].lex)) ==
      Seq((Iri(ex + "g2"), "9")))
    // HAVING runs AFTER the fill: n = 0 selects exactly the matchless graph
    val hav = q("""SELECT ?g ?x ?n WHERE { GRAPH ?g { ?s ex:name ?x .
      { SELECT (COUNT(?t) AS ?n) WHERE { ?q ex:tag ?t . } HAVING (COUNT(?t) = 0) } } }""",
      Seq("g", "x", "n"))
    assert(hav.map(r => (r("g"), r("x"))) == Seq((Iri(ex + "g2"), Lit("A2"))))
    // scale shape: 10k graphs, one fixed-size plan, zero-count rows filled
    val n = 10000
    val many = QuadsDF.fromQuads(spark, (1 to n).flatMap(i =>
      Seq(Quad(Iri(s"$ex/s$i"), Iri(ex + "name"), Lit(s"n$i"), Some(Iri(s"$ex/g$i")))) ++
        (if (i % 4 == 0)
           Seq(Quad(Iri(s"$ex/s$i"), Iri(ex + "tag"), Lit(s"t$i"), Some(Iri(s"$ex/g$i"))))
         else Nil)))
    val manyT = QuadsDF.defaultUnion(many)
    val frame2 = new SparqlFrame(spark, manyT, PathEval.step(manyT, _, _),
      Map.empty, None, None, Some(many))
    val res2 = frame2.evalSelect(Sparql.parseQuery(
      """SELECT ?g ?n WHERE { GRAPH ?g { ?s ex:name ?x .
        |  { SELECT (COUNT(?t) AS ?n) WHERE { ?q ex:tag ?t . } } } }""".stripMargin,
      Map("ex" -> ex)).asInstanceOf[Sparql.SqSelect], frame2.unitSeed)
    assert(res2.df.queryExecution.optimizedPlan.collect {
      case u: org.apache.spark.sql.catalyst.plans.logical.Union => u
    }.isEmpty, "global-agg sub-select took the per-graph loop")
    assert(res2.df.count() == n)
    assert(res2.df.filter(res2.df("n")("v") === "0").count() == n - n / 4)
  }

  test("GRAPH ?g with GRAPH-under-GRAPH-<iri> over 1001 graphs: one plan, empty answer") {
    val many = QuadsDF.fromQuads(spark, (1 to 1001).map(i =>
      Quad(Iri(s"$ex/s$i"), Iri(ex + "p"), Iri(s"$ex/o$i"), Some(Iri(s"$ex/g$i")))))
    val manyT = QuadsDF.defaultUnion(many)
    val frame = new SparqlFrame(spark, manyT, PathEval.step(manyT, _, _),
      Map.empty, None, None, Some(many))
    val res = frame.evalSelect(Sparql.parseQuery(
      """SELECT ?g ?s WHERE { GRAPH ?g { ?s ex:p ?o .
        |  GRAPH ex:g1 { GRAPH ?h { ?o ex:p ?z . } } } }""".stripMargin,
      Map("ex" -> ex)).asInstanceOf[Sparql.SqSelect], frame.unitSeed)
    assert(res.df.queryExecution.optimizedPlan.collect {
      case u: org.apache.spark.sql.catalyst.plans.logical.Union => u
    }.isEmpty, "GRAPH under GRAPH <iri> built per-graph branches")
    // the graphs are <ex//gN>, so ex:g1 names none of them, and no object
    // ever occurs as a subject: every branch of the join is empty
    assert(res.df.count() == 0)
  }

  test("SUBSTR clips zero/negative starts like fn:substring; REPLACE honors q flag") {
    assert(eval1("""SUBSTR("hello", 0, 3)""").contains(Lit("he")))
    assert(eval1("""SUBSTR("hello", -1, 3)""").contains(Lit("h")))
    assert(eval1("""SUBSTR("hello", 2, 0)""").contains(Lit("")))
    assert(eval1("""REPLACE("a.b.c", ".", "-", "q")""").contains(Lit("a-b-c")))
    intercept[ReportableError](eval1("""REPLACE("x", "a", "b", "g")"""))
  }

  test("BNODE(str) is fresh per solution row, stable within a row") {
    val rows = runOn(numData,
      """SELECT ?s (BNODE("x") AS ?b1) (BNODE("x") AS ?b2) WHERE { ?s ex:v ?n . }""")
    assert(rows.size == 4)
    assert(rows.map(_("b1")).distinct.size == 4) // fresh across rows
    assert(rows.forall(r => r("b1") == r("b2"))) // stable within a row
  }

  test("comments strip: '#' inside an IRI / apostrophe IRIs do not break stripping") {
    val g =
      s"""@prefix ex: <$ex> .
         |<http://dbpedia.org/resource/O'Reilly> ex:name "Tim" .
         |""".stripMargin
    val rows = runOn(g,
      "SELECT ?n WHERE { <http://dbpedia.org/resource/O'Reilly> ex:name ?n . # note\n }")
    assert(rows.map(_("n")) == Seq(Lit("Tim")))
    // a '#' inside an IRI ref is a fragment, not a comment; after '>' it is
    val frag = runOn(g, "SELECT ?n WHERE { ?x <http://ex.org/name> ?n . } # tail")
    assert(frag.map(_("n")) == Seq(Lit("Tim")))
  }

  test("comments strip: '#' survives inside quoted strings") {
    val rows = run(
      "SELECT ?s WHERE { ?s ex:alias ?al . # a real comment\n" +
        """FILTER (?al != "color #1") } # trailing""")
    assert(rows.map(_("s")) == Seq(Iri(ex + "c")))
    val esc = run(
      "SELECT ?s WHERE { ?s ex:alias ?al . FILTER (?al != \"say \\\"hi\\\" #x\") }")
    assert(esc.map(_("s")) == Seq(Iri(ex + "c")))
  }

  test("GRAPH ?g full-bodied SHACLFunction calls ride the quad path, scoped per graph") {
    // ex:b has a name in g2 but its tag lives in g3 — a function body
    // evaluated against the wrong graph (or the union) would leak it
    val trig =
      s"""@prefix ex: <$ex> .
         |GRAPH ex:g1 { ex:a ex:name "A" . ex:a ex:tag "T1" . }
         |GRAPH ex:g2 { ex:b ex:name "B" . }
         |GRAPH ex:g3 { ex:b ex:tag "T3" . }
         |""".stripMargin
    val quads = QuadsDF.fromQuads(spark, TrigParser.parseGraphQuads(trig, "http://test/"))
    val T = QuadsDF.defaultUnion(quads)
    val askDef = ShaclFnDef(Iri(ex + "hasTag"),
      List(("person", XSD.string, false)), None,
      Right(Sparql.parseQuery("ASK { $person ex:tag ?t . }", Map("ex" -> ex))))
    val selDef = ShaclFnDef(Iri(ex + "tagOf"),
      List(("person", XSD.string, false)), None,
      Right(Sparql.parseQuery("SELECT ?result WHERE { $person ex:tag ?result . }",
        Map("ex" -> ex))))
    val fns = Map(ex + "hasTag" -> askDef, ex + "tagOf" -> selDef)
    val frame = new SparqlFrame(spark, T, PathEval.step(T, _, _), fns, None,
      None, Some(quads))
    def q(txt: String, out: Seq[String]) = {
      val res = frame.evalSelect(Sparql.parseQuery(txt, Map("ex" -> ex))
        .asInstanceOf[Sparql.SqSelect], frame.unitSeed)
      frame.collect(res, out)
    }
    // ASK-bodied FILTER: only (g1, a) — b's g3 tag must not leak into g2
    val hasTag = q(
      "SELECT ?g ?s WHERE { GRAPH ?g { ?s ex:name ?n . FILTER(ex:hasTag(?s)) } }",
      Seq("g", "s"))
    assert(hasTag == Seq(Map("g" -> Iri(ex + "g1"), "s" -> Iri(ex + "a"))))
    // negated: (g2, b) keeps — within g2, b has no tag
    val noTag = q(
      "SELECT ?g ?s WHERE { GRAPH ?g { ?s ex:name ?n . FILTER(!ex:hasTag(?s)) } }",
      Seq("g", "s"))
    assert(noTag == Seq(Map("g" -> Iri(ex + "g2"), "s" -> Iri(ex + "b"))))
    // SELECT-bodied BIND: per-graph result — unbound for b (tag in g3)
    val bound = q(
      """SELECT ?g ?n ?t WHERE {
        |  GRAPH ?g { ?s ex:name ?n . BIND(ex:tagOf(?s) AS ?t) } } ORDER BY ?n""".stripMargin,
      Seq("g", "n", "t"))
    assert(bound.map(r => (r("n"), r.get("t"))) == Seq(
      (Lit("A"), Some(Lit("T1"))), (Lit("B"), None)))

    // scale shape: 10k per-document graphs with a function-call FILTER
    // compile to ONE fixed-size plan (VERDICT r6 #2) — no per-graph
    // branches, so no Union nodes beyond zero
    val many = QuadsDF.fromQuads(spark, (1 to 10000).flatMap(i =>
      Seq(Quad(Iri(s"$ex/s$i"), Iri(ex + "name"), Lit(s"n$i"), Some(Iri(s"$ex/g$i")))) ++
        (if (i % 2 == 0)
           Seq(Quad(Iri(s"$ex/s$i"), Iri(ex + "tag"), Lit(s"t$i"), Some(Iri(s"$ex/g$i"))))
         else Nil)))
    val manyT = QuadsDF.defaultUnion(many)
    val frame2 = new SparqlFrame(spark, manyT, PathEval.step(manyT, _, _), fns,
      None, None, Some(many))
    val res2 = frame2.evalSelect(Sparql.parseQuery(
      "SELECT ?g ?s WHERE { GRAPH ?g { ?s ex:name ?n . FILTER(ex:hasTag(?s)) } }",
      Map("ex" -> ex)).asInstanceOf[Sparql.SqSelect], frame2.unitSeed)
    val unions = res2.df.queryExecution.optimizedPlan.collect {
      case u: org.apache.spark.sql.catalyst.plans.logical.Union => u
    }
    assert(unions.isEmpty,
      "GRAPH ?g with a SHACLFunction FILTER must not union per-graph branches")
    assert(res2.df.count() == 5000)
  }

  test("a FILTER scopes over its whole group, wherever it sits (SPARQL 18.2.2)") {
    val trig =
      s"""@prefix ex: <$ex> .
         |ex:a ex:v 1 . ex:b ex:v 5 . ex:c ex:v 9 . ex:a ex:tag "t" . ex:c ex:tag "t" .
         |GRAPH ex:g1 { ex:a ex:v 1 . ex:b ex:v 5 . ex:c ex:v 9 .
         |              ex:a ex:tag "t" . ex:c ex:tag "t" . }
         |GRAPH ex:g2 { ex:b ex:v 7 . ex:b ex:tag "t" . }
         |""".stripMargin
    val quads = QuadsDF.fromQuads(spark, TrigParser.parseGraphQuads(trig, "http://test/"))
    val T = QuadsDF.graph(quads, None)
    val frame = new SparqlFrame(spark, T, PathEval.step(T, _, _), Map.empty, None,
      None, Some(quads))
    def q(txt: String, out: Seq[String]) = {
      val res = frame.evalSelect(Sparql.parseQuery(txt, Map("ex" -> ex))
        .asInstanceOf[Sparql.SqSelect], frame.unitSeed)
      frame.collect(res, out).toSet
    }
    def ss(names: String*) = names.map(n => Map[String, Node]("s" -> Iri(ex + n))).toSet
    val block = "FILTER(?o > 2) ?s ex:v ?o ."
    assert(q(s"SELECT ?s WHERE { $block }", Seq("s")) == ss("b", "c"))
    assert(q(s"SELECT ?s WHERE { GRAPH ex:g1 { $block } }", Seq("s")) == ss("b", "c"))
    assert(q(s"SELECT ?g ?s WHERE { GRAPH ?g { $block } }", Seq("g", "s")) == Set(
      Map("g" -> Iri(ex + "g1"), "s" -> Iri(ex + "b")),
      Map("g" -> Iri(ex + "g1"), "s" -> Iri(ex + "c")),
      Map("g" -> Iri(ex + "g2"), "s" -> Iri(ex + "b"))))
    // FILTER EXISTS ahead of the pattern that binds its correlated ?s
    val ex1 = "FILTER EXISTS { ?s ex:tag ?t . } ?s ex:v ?o ."
    assert(q(s"SELECT ?s WHERE { $ex1 }", Seq("s")) == ss("a", "c"))
    assert(q(s"SELECT ?s WHERE { GRAPH ex:g1 { $ex1 } }", Seq("s")) == ss("a", "c"))
    assert(q(s"SELECT ?g ?s WHERE { GRAPH ?g { $ex1 } }", Seq("g", "s")) == Set(
      Map("g" -> Iri(ex + "g1"), "s" -> Iri(ex + "a")),
      Map("g" -> Iri(ex + "g1"), "s" -> Iri(ex + "c")),
      Map("g" -> Iri(ex + "g2"), "s" -> Iri(ex + "b"))))
  }

  /** Five named graphs for the per-graph differential below: chains,
    * a cycle, ex:q edges and ex:name literals spread so that every block
    * answers differently per graph. */
  private val diffTrig =
    s"""@prefix ex: <$ex> .
       |ex:a ex:p ex:zz . ex:zz ex:q ex:a .
       |GRAPH ex:g1 { ex:a ex:p ex:b . ex:b ex:p ex:c . ex:a ex:q ex:z . ex:b ex:name "B1" . }
       |GRAPH ex:g2 { ex:c ex:p ex:d . ex:b ex:q ex:y . ex:d ex:name "D2" . }
       |GRAPH ex:g3 { ex:a ex:p ex:c . ex:c ex:p ex:a . ex:c ex:q ex:z . ex:c ex:name "C3" . }
       |GRAPH ex:g4 { ex:x ex:q ex:y . ex:x ex:name "X4" . ex:x ex:p ex:b . }
       |GRAPH ex:g5 { ex:b ex:p ex:d . ex:d ex:p ex:e . ex:e ex:q ex:b . ex:e ex:q ex:g5 .
       |              ex:e ex:name "E5" . }
       |""".stripMargin

  /** `GRAPH ?g { block }` two ways: the single evaluator over the whole
    * dataset, and a reference that follows SPARQL's algebra literally —
    * for each named graph a fresh frame whose default graph is that graph,
    * the block evaluated there, ?g bound afterwards, the results unioned.
    * Returns both answers and the Union fan-outs of the single plan. */
  private def perGraphDiff(block: String, fns: Map[String, ShaclFnDef] = Map.empty,
                           path: Option[PathIR] = None)
      : (Set[Map[String, Node]], Set[Map[String, Node]], Seq[Int], Int) = {
    val quads = QuadsDF.fromQuads(spark, TrigParser.parseGraphQuads(diffTrig, "http://test/"))
    val shapes = TriplesDF.fromMemGraph(spark, TurtleParser.parseGraph(
      s"""@prefix ex: <$ex> . ex:shape1 ex:q ex:d . ex:shape2 ex:q ex:b .""", "http://test/"))
    def parse(txt: String) =
      Sparql.parseQuery(txt, Map("ex" -> ex)).asInstanceOf[Sparql.SqSelect]
    def run(T: org.apache.spark.sql.DataFrame, txt: String) = {
      val f = new SparqlFrame(spark, T, PathEval.step(T, _, _), fns, path, Some(shapes),
        Some(quads))
      val res = f.evalSelect(parse(txt), f.unitSeed)
      (f.collect(res, res.vars.filterNot(_.startsWith("__")).toSeq.sorted), res.df)
    }
    val names = QuadsDF.graphNames(quads)
    val reference = names.flatMap { nm =>
      run(QuadsDF.graph(quads, Some(nm)), s"SELECT * WHERE { $block }")._1
        .filter(_.get("g").forall(_ == Iri(nm))).map(_ + ("g" -> Iri(nm)))
    }.toSet
    val (got, df) = run(QuadsDF.defaultUnion(quads), s"SELECT * WHERE { GRAPH ?g { $block } }")
    val fanOuts = df.queryExecution.optimizedPlan.collect {
      case u: org.apache.spark.sql.catalyst.plans.logical.Union => u.children.size
    }
    (got.toSet, reference, fanOuts, names.size)
  }

  private def assertPerGraph(block: String, fns: Map[String, ShaclFnDef] = Map.empty,
                             path: Option[PathIR] = None): Set[Map[String, Node]] = {
    val (got, want, fanOuts, graphs) = perGraphDiff(block, fns, path)
    assert(graphs == 5)
    assert(got == want, s"block { $block }")
    assert(fanOuts.forall(_ < graphs), s"per-graph Union in the plan: $fanOuts")
    got
  }

  test("GRAPH ?g MINUS and VALUES match the per-graph reference in one plan") {
    // shared ?s: removes per graph, the rhs evaluated in the row's graph
    val shared = assertPerGraph("?s ex:p ?o . MINUS { ?s ex:q ?z . }")
    assert(shared.nonEmpty && !shared.contains(Map[String, Node](
      "g" -> Iri(ex + "g1"), "s" -> Iri(ex + "a"), "o" -> Iri(ex + "b"))))
    assert(shared.contains(Map[String, Node](
      "g" -> Iri(ex + "g3"), "s" -> Iri(ex + "a"), "o" -> Iri(ex + "c"))))
    // disjoint rhs, and an rhs whose only link to the lhs is the graph:
    // neither removes anything
    val all = assertPerGraph("?s ex:p ?o .")
    assert(all.size == 8)
    assert(assertPerGraph("?s ex:p ?o . MINUS { ?a ex:name ?n . }") == all)
    assert(assertPerGraph("?s ex:p ?o . MINUS { ?a ex:q ?z . }") == all)
    assertPerGraph("?s ex:p ?o . MINUS { ?a ex:q ?g . }")
    assertPerGraph("VALUES ?s { ex:a ex:b ex:x } ?s ex:p ?o .")
    assertPerGraph("?s ex:p ?o . VALUES (?s ?o) { (ex:a ex:b) (ex:c UNDEF) }")
  }

  test("GRAPH ?g $PATH and GRAPH $shapesGraph match the per-graph reference") {
    val plus = Some(PathIR.POneOrMore(PathIR.PPred(ex + "p")))
    assert(assertPerGraph("?s $PATH ?o .", path = plus).size == 12)
    assertPerGraph("VALUES ?s { ex:a ex:b } ?s $PATH ?o .", path = plus)
    assertPerGraph("?s $PATH ex:c .", path = Some(PathIR.PSeq(List(
      PathIR.PPred(ex + "p"), PathIR.PPred(ex + "p")))))
    val sg = assertPerGraph("?s ex:p ?o . GRAPH $shapesGraph { ?sh ex:q ?o . }")
    assert(sg.map(_("sh")) == Set(Iri(ex + "shape1"), Iri(ex + "shape2")))
  }

  test("GRAPH ?g with GRAPH ?h under GRAPH <iri> matches the per-graph reference") {
    val r = assertPerGraph("?s ex:p ?o . GRAPH ex:g1 { ?o ex:p ?w . GRAPH ?h { ?w ex:q ?z . } }")
    assert(r.nonEmpty && r.map(_("h")).size > 1)
    assertPerGraph("GRAPH ex:g5 { ?s ex:p ?o . } GRAPH ?h { ?o ex:q ?z . }")
  }

  test("GRAPH ?g EXISTS and nested SHACLFunction bodies with GRAPH match the reference") {
    assertPerGraph("?s ex:p ?o . FILTER EXISTS { GRAPH ?h { ?o ex:name ?n . } }")
    assertPerGraph("?s ex:p ?o . FILTER NOT EXISTS { ?o ex:p ?w . GRAPH ?h { ?w ex:q ?z . } }")
    assertPerGraph("?s ex:p ?o . BIND(EXISTS { ?o ex:p ?w . GRAPH ?h { ?w ex:name ?n . } } AS ?b)")
    // ex:reach's body calls ex:named, whose body ranges over every graph
    val named = ShaclFnDef(Iri(ex + "named"), List(("x", XSD.string, false)), None,
      Right(Sparql.parseQuery("ASK { GRAPH ?h { $x ex:name ?n . } }", Map("ex" -> ex))))
    val reach = ShaclFnDef(Iri(ex + "reach"), List(("x", XSD.string, false)), None,
      Right(Sparql.parseQuery("ASK { $x ex:p ?y . FILTER(ex:named(?y)) }", Map("ex" -> ex))))
    val nameOf = ShaclFnDef(Iri(ex + "nameOf"), List(("x", XSD.string, false)), None,
      Right(Sparql.parseQuery("SELECT ?n WHERE { GRAPH ?h { $x ex:name ?n . } }",
        Map("ex" -> ex))))
    val fns = Map(ex + "named" -> named, ex + "reach" -> reach, ex + "nameOf" -> nameOf)
    val kept = assertPerGraph("?s ex:p ?o . FILTER(ex:reach(?o))", fns)
    assert(kept.size == 3)
    assertPerGraph("?s ex:p ?o . BIND(ex:nameOf(?o) AS ?n)", fns)
    assertPerGraph("?s ex:p ?o . BIND(ex:reach(?s) AS ?r)", fns)
  }
}
