package graft.shacl

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.rdf._

/** Property-path closures on the one closure kernel, checked against a
  * driver-side BFS over the collected edges: seeded cyclic random graphs
  * through the engine's value nodes, GRAPH ?g scoping over quads, the
  * step cap's boundary, and checkpoint release on ValidationEngine.close;
  * and the naive fixpoint step `absorb` on small frames. */
class ClosureSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val ex = "http://ex.org/"
  private def I(l: String) = Iri(ex + l)

  private val shapesTtl =
    s"""@prefix sh: <http://www.w3.org/ns/shacl#> .
       |@prefix ex: <$ex> .
       |ex:Star a sh:PropertyShape ; sh:path [ sh:zeroOrMorePath ex:p ] .
       |ex:Plus a sh:PropertyShape ; sh:path [ sh:oneOrMorePath ex:p ] .
       |ex:InvStar a sh:PropertyShape ; sh:path [ sh:zeroOrMorePath [ sh:inversePath ex:p ] ] .
       |ex:SeqStar a sh:PropertyShape ; sh:path [ sh:zeroOrMorePath ( ex:p ex:q ) ] .
       |""".stripMargin
  private lazy val sg = TurtleParser.parseGraph(shapesTtl, "http://test/")
  private lazy val shapes = new ShapeCompiler(sg).compile()

  /** Nodes reachable from `start` along `succ`; `start` itself only when
    * `reflexive` or when a cycle leads back to it. */
  private def reach(start: Node, succ: Node => Set[Node], reflexive: Boolean): Set[Node] = {
    val seen = scala.collection.mutable.Set.empty[Node]
    var frontier = if (reflexive) Set(start) else succ(start)
    while (frontier.nonEmpty) frontier = frontier.filter(seen.add).flatMap(succ)
    seen.toSet
  }

  private def adjacency(edges: Seq[(Node, Node)]): Node => Set[Node] = {
    val m = edges.groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).toSet }
    n => m.getOrElse(n, Set.empty)
  }

  /** (focus, value) pairs of a shape's path with every graph node as focus. */
  private def valuePairs(engine: ValidationEngine, T: org.apache.spark.sql.DataFrame,
                         shape: String): Set[(Node, Node)] = {
    import org.apache.spark.sql.functions.col
    val focus = T.select(col("s").as("f")).unionByName(T.select(col("o").as("f"))).distinct()
    engine.valueNodes(shapes(I(shape)), focus).collect()
      .map(r => (TriplesDF.nodeOf(r.getStruct(0)), TriplesDF.nodeOf(r.getStruct(1)))).toSet
  }

  test("zeroOrMore / oneOrMore / inverse / sequence closures match a BFS on cyclic random graphs") {
    for (seed <- Seq(7, 42, 1001)) {
      val rnd = new scala.util.Random(seed)
      // 24 nodes, 30 p-edges and 20 q-edges: self-loops, cycles and
      // several paths to the same node all occur
      def edges(pred: String, k: Int) = Seq.fill(k)(
        Triple(I("n" + rnd.nextInt(24)), I(pred), I("n" + rnd.nextInt(24)))).distinct
      val triples = edges("p", 30) ++ edges("q", 20)
      val T = TriplesDF.fromTriples(spark, triples)
      val engine = new ValidationEngine(spark, T, shapes, sg)
      val nodes = triples.flatMap(t => Seq(t.s, t.o)).toSet
      def pairsOf(pred: String) = triples.filter(_.p == I(pred)).map(t => (t.s, t.o))
      val p = adjacency(pairsOf("p"))
      val pInv = adjacency(pairsOf("p").map(_.swap))
      val q = adjacency(pairsOf("q"))
      val pq: Node => Set[Node] = n => p(n).flatMap(q)
      def oracle(succ: Node => Set[Node], reflexive: Boolean) =
        nodes.flatMap(n => reach(n, succ, reflexive).map(n -> _))
      try {
        assert(valuePairs(engine, T, "Star") == oracle(p, reflexive = true), s"p*, seed $seed")
        assert(valuePairs(engine, T, "Plus") == oracle(p, reflexive = false), s"p+, seed $seed")
        assert(valuePairs(engine, T, "InvStar") == oracle(pInv, reflexive = true), s"^p*, seed $seed")
        assert(valuePairs(engine, T, "SeqStar") == oracle(pq, reflexive = true), s"(p/q)*, seed $seed")
      } finally engine.close()
    }
  }

  private def quadFrame(quads: Seq[Quad]) = {
    val Q = QuadsDF.fromQuads(spark, quads)
    val T = QuadsDF.defaultUnion(Q)
    (Q, T)
  }

  private def select(frame: SparqlFrame, q: String, out: Seq[String]) = {
    val res = frame.evalSelect(Sparql.parseQuery(q, Map("ex" -> ex))
      .asInstanceOf[Sparql.SqSelect], frame.unitSeed)
    frame.collect(res, out)
  }

  test("GRAPH ?g { ?s ex:p+ ?o } closes within each graph only") {
    val rnd = new scala.util.Random(3)
    // three graphs over one shared node set: a path that exists only by
    // hopping between graphs must not appear
    val quads = (1 to 3).flatMap { g =>
      Seq.fill(12)(Quad(I("n" + rnd.nextInt(10)), I("p"), I("n" + rnd.nextInt(10)),
        Some(I("g" + g))))
    }.distinct
    val (q, t) = quadFrame(quads)
    val frame = new SparqlFrame(spark, t, PathEval.step(t, _, _), Map.empty, None, None, Some(q))
    val got = select(frame, "SELECT ?g ?s ?o WHERE { GRAPH ?g { ?s ex:p+ ?o . } }",
      Seq("g", "s", "o")).map(r => (r("g"), r("s"), r("o"))).toSet
    val expected = quads.groupBy(_.g.get).flatMap { case (g, qs) =>
      val succ = adjacency(qs.map(x => (x.s, x.o)))
      qs.flatMap(x => Seq(x.s, x.o)).toSet.flatMap((n: Node) =>
        reach(n, succ, reflexive = false).map(o => (g: Node, n, o)))
    }.toSet
    assert(got == expected)
    // the seed makes some path exist only by hopping between graphs, so
    // the union graph's closure differs and scoping is really exercised
    val unionSucc = adjacency(quads.map(x => (x.s, x.o)))
    val unionPairs = quads.flatMap(x => Seq(x.s, x.o)).toSet.flatMap((n: Node) =>
      reach(n, unionSucc, reflexive = false).map(n -> _))
    assert(unionPairs != expected.map(x => (x._2, x._3)))
  }

  private def chain(links: Int): Seq[Triple] =
    (0 until links).map(i => Triple(I(s"n$i"), I("p"), I(s"n${i + 1}")))

  test("engine closures close a chain of maxPathDepth links and throw one link further") {
    val cap = 6
    def star(links: Int) = {
      val T = TriplesDF.fromTriples(spark, chain(links))
      val engine = new ValidationEngine(spark, T, shapes, sg, ValidationOptions(maxPathDepth = cap))
      try valuePairs(engine, T, "Star") finally engine.close()
    }
    // (cap + 1)(cap + 2) / 2 pairs: every node reaches itself and all later ones
    assert(star(cap).size == (cap + 1) * (cap + 2) / 2)
    val e = intercept[ReportableError](star(cap + 1))
    assert(e.getMessage.contains(s"within $cap steps"))
  }

  test("SparqlFrame's maxPathDepth caps a GRAPH ?g closure at the same boundary") {
    val cap = 5
    def reached(links: Int) = {
      val (q, t) = quadFrame(chain(links).map(x => Quad(x.s, x.p, x.o, Some(I("g")))))
      val frame = new SparqlFrame(spark, t, PathEval.step(t, _, _), Map.empty, None, None,
        Some(q), maxPathDepth = cap)
      select(frame, "SELECT ?o WHERE { GRAPH ?g { ex:n0 ex:p* ?o . } }", Seq("o")).size
    }
    assert(reached(cap) == cap + 1)
    val e = intercept[ReportableError](reached(cap + 1))
    assert(e.getMessage.contains(s"within $cap steps"))
  }

  test("ValidationEngine.close frees the closure checkpoints of a validation") {
    val g = TurtleParser.parseGraph(
      s"""@prefix sh: <http://www.w3.org/ns/shacl#> .
         |@prefix ex: <$ex> .
         |ex:S a sh:NodeShape ; sh:targetNode ex:n0 ;
         |  sh:property [ sh:path [ sh:oneOrMorePath ex:p ] ; sh:maxCount 3 ] .
         |""".stripMargin, "http://test/")
    val T = TriplesDF.fromTriples(spark, chain(9))
    // RDD ids only grow, so this validation's checkpoints are the persisted
    // RDDs with a larger id than one made before it; unrelated RDDs left
    // by earlier tests (held weakly, so GC may drop them) do not count
    val firstId = spark.sparkContext.emptyRDD[Int].id
    def pinned() = spark.sparkContext.getPersistentRDDs.filter(_._1 > firstId).values
    val engine = new ValidationEngine(spark, T, new ShapeCompiler(g).compile(), g)
    assert(engine.run().size == 1) // n0 reaches 9 nodes, more than 3
    assert(pinned().exists(_.toString.contains("Closure.scala")))
    engine.close()
    assert(pinned().isEmpty)
  }

  test("absorb adds only the rows the graph lacks, each once, and frees what it supersedes") {
    import spark.implicits._
    val firstId = spark.sparkContext.emptyRDD[Int].id
    def pinned() = spark.sparkContext.getPersistentRDDs.keySet.filter(_ > firstId)
    def rddId(df: org.apache.spark.sql.DataFrame) = df.queryExecution.analyzed
      .collectFirst { case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.id }.get
    def rows(df: org.apache.spark.sql.DataFrame) = df.select("s", "o").as[(String, String)].collect()
    // the graph's own duplicate row is kept as it is
    val graphRows = Seq(("a", "b"), ("a", "b"), ("b", "c"))
    val graph = graphRows.toDF("s", "o").localCheckpoint()
    val (same, n0) = Closure.absorb(graph, Seq(("b", "c"), ("a", "b"), ("b", "c")).toDF("s", "o"))
    assert(n0 == 0 && (same eq graph))
    assert(pinned() == Set(rddId(graph)))
    // columns in another order, a duplicated new row, and rows already there
    val derived = Seq(("d", "c"), ("d", "c"), ("b", "a"), ("c", "a")).toDF("o", "s")
    val (grown, n) = Closure.absorb(graph, derived)
    assert(n == 2)
    assert(rows(grown).sorted.toSeq == (graphRows ++ Seq(("c", "d"), ("a", "c"))).sorted)
    assert(rows(grown).toSet == (graphRows ++ rows(derived)).toSet)
    assert(pinned() == Set(rddId(grown)))
    Closure.free(grown)
  }

  test("absorb merges a grown graph back to its partition count, two at least") {
    import spark.implicits._
    val graph = (0 until 40).map(i => (s"a$i", "b")).toDF("s", "o").repartition(5).localCheckpoint()
    val (grown, n) = Closure.absorb(graph, Seq(("c", "d"), ("e", "f")).toDF("s", "o"))
    assert(n == 2 && grown.count() == 42)
    assert(grown.rdd.getNumPartitions == 5)
    Closure.free(grown)
    // an empty graph has no partitions at all
    val empty = Seq.empty[(String, String)].toDF("s", "o").localCheckpoint()
    assert(empty.rdd.getNumPartitions == 0)
    val (one, n1) = Closure.absorb(empty, Seq(("c", "d")).toDF("s", "o"))
    assert(n1 == 1 && one.rdd.getNumPartitions <= 2)
    assert(one.select("s", "o").as[(String, String)].collect().toSeq == Seq(("c", "d")))
    Closure.free(one)
    val single = Seq(("a", "b")).toDF("s", "o").coalesce(1).localCheckpoint()
    val (two, _) = Closure.absorb(single, (0 until 20).map(i => (s"x$i", "y")).toDF("s", "o").repartition(3))
    assert(two.rdd.getNumPartitions == 2)
    Closure.free(two)
  }

  test("under AQE a lazy localCheckpoint of a shuffling plan starts a job before any action") {
    import org.apache.spark.sql.functions.{col, count, lit}
    def jobsOf(body: => Unit): Int = TestSpark.countJobs(body)._2
    def grouped() = spark.range(0, 1000, 1, 4).groupBy((col("id") % 7).as("k")).agg(count(lit(1)))
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    // AQE plans the query and runs its shuffle-map stages inside the call;
    // only the final stage waits for the first action
    assert(jobsOf(grouped().localCheckpoint(false)) >= 1)
    assert(jobsOf(spark.range(0, 1000, 1, 4).filter(col("id") > 3).localCheckpoint(false)) == 0)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try assert(jobsOf(grouped().localCheckpoint(false)) == 0)
    finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }
}
