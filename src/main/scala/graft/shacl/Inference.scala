package graft.shacl

import graft.rdf._
import graft.rdf.TriplesDF.{TermRow, termKey, termLit}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** RDFS-subset closure over a triples DataFrame, mirroring the reference's
  * pre-validation inference step (inference='rdfs',
  * /root/reference/pyshacl/run_type.py:21-85 +
  * custom_rdfs_closure.py:34-55 — literal/Resource axiom noise is
  * deliberately not generated; the reference's comparator scrubs it anyway).
  *
  * Schema triples (subClassOf/subPropertyOf/domain/range) are collected to
  * the driver — ontology schemas stay small even when instance data is
  * 100 TB — and pushed back in as broadcast pair tables (property IRIs and
  * class term structs), so the instance-scale work is three joins + a
  * union on the stored terms, no fixpoint over big data:
  *   rdfs7  (s,p,o) + p subPropertyOf* q       -> (s,q,o)
  *   rdfs2  (s,p,o) + domain(p,c)              -> (s,type,c)
  *   rdfs3  (s,p,o) + range(p,c), o not lit    -> (o,type,c)
  *   rdfs9  (x,type,c) + c subClassOf* d       -> (x,type,d)
  *   rdfs5/11 transitive closures of the schema predicates themselves.
  * [[derive]] is that rule step over a given schema; OWL-RL runs it in
  * every round of its fixpoint.
  */
object RdfsInference {

  /** The predicates of the schema triples the RDFS rules read. */
  val schemaPreds: Seq[String] =
    Seq(RDFS.subClassOf, RDFS.subPropertyOf, RDFS.domain, RDFS.range).map(_.value)

  private def transitive[A](pairs: Seq[(A, A)]): Seq[(A, A)] = {
    val adj = pairs.groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2) }
    def succ(n: A): Seq[A] = adj.getOrElse(n, Nil)
    adj.keys.toSeq.flatMap(start => Closure.reach(succ(start), succ).map(start -> _))
  }

  def expand(spark: SparkSession, df: DataFrame): DataFrame = {
    val schema = TriplesDF.collectTriples(df.filter(col("p").isin(schemaPreds: _*)))
    if (schema.isEmpty) df
    else derive(spark, df, schema).foldLeft(df)(_ unionByName _).distinct()
  }

  /** The rows the RDFS rules derive from `df` under the schema triples in
    * `schema` (other triples there are ignored), one frame per rule; they
    * may repeat rows of `df` and of each other. The schema's own triples
    * are taken to be in `df` or emitted by the caller: rdfs11 leaves them
    * out. */
  def derive(spark: SparkSession, df: DataFrame, schema: Seq[Triple]): Seq[DataFrame] = {
    import spark.implicits._
    // classes and properties are IRIs or blank nodes, never literals
    def pairs(pred: Iri): Seq[(Node, Node)] = schema.collect {
      case Triple(s, p, o) if p == pred && !s.isInstanceOf[Lit] && !o.isInstanceOf[Lit] => (s, o) }
    val sc = transitive(pairs(RDFS.subClassOf))
    // only IRI properties can appear in predicate position
    val sp = transitive(pairs(RDFS.subPropertyOf)).collect { case (Iri(a), Iri(b)) => (a, b) }
    def typing(pred: Iri) = pairs(pred).collect { case (Iri(p), c) => (p, TermRow.of(c)) }
    val dom = typing(RDFS.domain)
    val rng = typing(RDFS.range)

    val parts = scala.collection.mutable.ListBuffer.empty[DataFrame]
    def all = parts.foldLeft(df)(_ unionByName _)
    // rdfs7: subPropertyOf propagation
    if (sp.nonEmpty)
      parts += df.join(broadcast(sp.toDF("_sub", "_sup")), $"p" === $"_sub")
        .select($"s", $"_sup".as("p"), $"o")
    // rdfs2/3: domain/range type derivation (range skips literal objects)
    val withSuper = all
    if (dom.nonEmpty)
      parts += withSuper.join(broadcast(dom.toDF("_dp", "_dc")), $"p" === $"_dp")
        .select($"s", lit(RDF.ty.value).as("p"), $"_dc".as("o"))
    if (rng.nonEmpty)
      parts += withSuper.join(broadcast(rng.toDF("_rp", "_rc")), $"p" === $"_rp")
        .filter($"o"("k") =!= 2)
        .select($"o".as("s"), lit(RDF.ty.value).as("p"), $"_rc".as("o"))
    if (sc.nonEmpty) {
      // rdfs9: type propagation up the class hierarchy
      val scDF = sc.map { case (a, b) => (TermRow.of(a), TermRow.of(b)) }.toDF("_csub", "_csup")
      parts += all.filter($"p" === RDF.ty.value)
        .join(broadcast(scDF), $"o" === $"_csub")
        .select($"s", lit(RDF.ty.value).as("p"), $"_csup".as("o"))
      // rdfs11: materialized transitive subClassOf triples, less those the
      // schema already holds (a later fixpoint round collects the closure
      // an earlier one materialized)
      val held = pairs(RDFS.subClassOf).toSet
      val closure = sc.filterNot(held)
      if (closure.nonEmpty)
        parts += TriplesDF.fromTriples(spark,
          closure.map { case (a, b) => Triple(a, RDFS.subClassOf, b) })
    }
    parts.toSeq
  }
}

/** OWL-RL-lite closure (inference='owlrl' / 'both',
  * /root/reference/pyshacl/run_type.py:21-85). The reference delegates to
  * the owlrl library's full materialization; here the instance-affecting
  * core of OWL-RL runs as DataFrame rules together with the RDFS rules:
  *
  *   prp-inv    p owl:inverseOf q + (s,p,o)          -> (o,q,s) (and sym.)
  *   prp-symp   p a owl:SymmetricProperty + (s,p,o)  -> (o,p,s)
  *   prp-trp    p a owl:TransitiveProperty + (x,p,y),(y,p,z) -> (x,p,z)
  *   cax-eqc    a owl:equivalentClass b              -> mutual subclassing
  *   prp-eqp    p owl:equivalentProperty q           -> mutual subproperty
  *   prp-spo2   p owl:propertyChainAxiom (p1..pn)    -> chain join
  *   prp-fp/ifp (Inverse)FunctionalProperty          -> derived owl:sameAs
  *   cls-svf1   someValuesFrom + (x,p,y),(y,a,C)     -> (x,a,R)
  *   cls-avf    allValuesFrom + (x,a,R),(x,p,y)      -> (y,a,C)
  *   cls-hv1/2  hasValue                             -> (x,p,v) / (x,a,R)
  *   cls-oo     c owl:oneOf (n1..nk)                 -> (ni,a,c)
  *   eq-sym/trans/rep  owl:sameAs closure + full alias-product replication
  *
  *   cls-svf2   someValuesFrom owl:Thing                -> (x,a,R) for any value
  *   cls-maxc2  maxCardinality/cardinality 1            -> values pairwise sameAs
  *   cls-maxqc3/4  maxQualifiedCardinality 1 (+onClass) -> qualified sameAs
  *
  * Every rule runs in one fixpoint loop, capped at [[MaxRounds]] rounds. A
  * round collects the schema once (driver-scale), derives from the whole
  * current graph with every rule and absorbs the new rows
  * ([[Closure.absorb]]); then eq-rep replicates onto the sameAs aliases,
  * in the first round and after any round that added rows. prp-trp joins
  * the round's edges with themselves, so the reached distance doubles each
  * round. The loop ends at the first round that adds nothing, so a rule
  * whose input another rule derives fires in a later round, whatever the
  * order; a round past the cap that still adds rows throws. Every rule
  * joins and replicates on the stored term structs; only cls-hv2's value
  * and prp-ifp's object compare term keys, so a language tag matches in
  * any case there, as in sh:hasValue. The "false" rules that cannot
  * materialize as triples surface through [[inconsistencies]] as a
  * distributed diagnostics frame (the reference's owlrl library raises on
  * them, including ill-typed literals via dt-not-type).
  */
object OwlRlInference {
  private val owlNs = "http://www.w3.org/2002/07/owl#"
  private def O(l: String) = owlNs + l

  /** Above this many distinct sameAs edges the identity components run
    * distributed (ConnectedComponents) instead of a driver BFS. */
  val DriverSameAsLimit = 100000

  /** Cap of the fixpoint, in rounds. Real ontologies converge long before
    * it (an n-link transitive chain closes in about log2(n) rounds);
    * hitting it means the closure is incomplete, which must not pass
    * silently as a conformance verdict. */
  val MaxRounds = 50

  /** Everything a round's rules read from the schema, in one collect. */
  private val schemaPreds = RdfsInference.schemaPreds ++ Seq("inverseOf",
    "equivalentClass", "equivalentProperty", "propertyChainAxiom", "onProperty",
    "someValuesFrom", "allValuesFrom", "hasValue", "oneOf", "onClass", "maxCardinality",
    "maxQualifiedCardinality", "cardinality", "qualifiedCardinality").map(O)
  private val schemaTypes = Seq("SymmetricProperty", "TransitiveProperty",
    "FunctionalProperty", "InverseFunctionalProperty").map(O)

  def expand(spark: SparkSession, df: DataFrame): DataFrame = {
    import spark.implicits._
    var out = df.distinct().localCheckpoint()

    // resolve RDF lists level-wise: one job per list depth, not per cell
    def resolveLists(heads: Seq[Node]): Map[Node, List[Node]] = {
      val cells = scala.collection.mutable.Map.empty[String, (Node, Node)] // key -> (first, rest)
      var frontier = heads.map(_.key).distinct.filterNot(_ == RDF.nil.key)
      while (frontier.nonEmpty) {
        val rows = TriplesDF.collectTriples(out.filter(
          ($"p" === RDF.first.value || $"p" === RDF.rest.value) &&
            termKey($"s").isin(frontier: _*)))
        val byS = rows.groupBy(_.s.key)
        for ((k, ts) <- byS) {
          val f = ts.find(_.p == RDF.first).map(_.o)
          val r = ts.find(_.p == RDF.rest).map(_.o)
          (f, r) match { case (Some(fv), Some(rv)) => cells(k) = (fv, rv); case _ => }
        }
        frontier = byS.values.flatten.collect { case Triple(_, p, o) if p == RDF.rest => o.key }
          .toSeq.distinct.filterNot(k => k == RDF.nil.key || cells.contains(k))
      }
      heads.distinct.map { h =>
        val items = scala.collection.mutable.ListBuffer.empty[Node]
        val visited = scala.collection.mutable.Set.empty[String]
        var cur = h.key
        // a malformed list whose rdf:rest chain is cyclic must not hang the
        // driver: stop at the first repeated cell
        while (cur != RDF.nil.key && cells.contains(cur) && visited.add(cur)) {
          val (f, r) = cells(cur); items += f; cur = r.key
        }
        h -> items.toList
      }.toMap
    }

    // one round's rule step: every rule but eq-rep, each over the whole
    // current graph, under the schema collected from it
    def rules(): Seq[DataFrame] = {
      val schema = TriplesDF.collectTriples(out.filter($"p".isin(schemaPreds: _*) ||
        ($"p" === RDF.ty.value && $"o"("k") === 0 && $"o"("v").isin(schemaTypes: _*))))
      def pairs(pred: String): Seq[(Node, Node)] = schema.collect {
        case Triple(s, p, o) if p.value == pred => (s, o) }
      def iriPairs(pred: String) = pairs(pred).collect { case (Iri(a), Iri(b)) => (a, b) }
      def declared(t: String) = schema.collect {
        case Triple(Iri(pv), p, Iri(c)) if p == RDF.ty && c == t => pv }
      val inv = iriPairs(O("inverseOf"))
      val sym = declared(O("SymmetricProperty"))
      val trans = declared(O("TransitiveProperty"))
      val fps = declared(O("FunctionalProperty"))
      val ifps = declared(O("InverseFunctionalProperty"))
      val onProp: Map[Node, String] = pairs(O("onProperty")).collect { case (s, Iri(o)) => s -> o }.toMap
      val svf = pairs(O("someValuesFrom"))
      val avf = pairs(O("allValuesFrom"))
      val hv = pairs(O("hasValue"))
      val onClass: Map[Node, Node] = pairs(O("onClass")).toMap
      // cls-maxc2 / cls-maxqc3/4: only the cardinality-1 restrictions derive
      // sameAs between the values of the restricted property on typed
      // subjects. (owl:cardinality 1 implies maxCardinality 1.)
      def card1(pred: String): Seq[Node] = pairs(O(pred)).collect {
        case (s, o: Lit) if o.lex.trim.toIntOption.contains(1) => s }
      val maxC1 = (card1("maxCardinality") ++ card1("cardinality")).distinct
      val maxQC1 = (card1("maxQualifiedCardinality") ++ card1("qualifiedCardinality")).distinct
      val chainHeads = pairs(O("propertyChainAxiom")).collect { case (Iri(pv), h) => (pv, h) }
      val oneOfHeads = pairs(O("oneOf"))
      val lists = resolveLists(chainHeads.map(_._2) ++ oneOfHeads.map(_._2))
      val chains = chainHeads.map { case (pv, h) => (pv, lists.getOrElse(h, Nil)
        .collect { case Iri(v) => v }) }.filter(_._2.size >= 2)

      val derived = scala.collection.mutable.ListBuffer.empty[DataFrame]
      // cax-eqc / prp-eqp: equivalences are mutual subclassing / subproperty
      // triples, which the RDFS rules of this round already read
      val eqSchema = pairs(O("equivalentClass")).flatMap { case (a, b) =>
          Seq(Triple(a, RDFS.subClassOf, b), Triple(b, RDFS.subClassOf, a)) } ++
        iriPairs(O("equivalentProperty")).flatMap { case (a, b) =>
          Seq(Triple(Iri(a), RDFS.subPropertyOf, Iri(b)), Triple(Iri(b), RDFS.subPropertyOf, Iri(a))) }
      if (eqSchema.nonEmpty) derived += TriplesDF.fromTriples(spark, eqSchema)
      derived ++= RdfsInference.derive(spark, out, schema ++ eqSchema)
      // prp-inv: both directions of each inverse pair
      val invPairs = (inv ++ inv.map(_.swap)).distinct
      if (invPairs.nonEmpty)
        derived += out.join(broadcast(invPairs.toDF("_ip", "_iq")), $"p" === $"_ip")
          .select($"o".as("s"), $"_iq".as("p"), $"s".as("o"))
      // prp-symp
      if (sym.nonEmpty)
        derived += out.filter($"p".isin(sym: _*)).select($"o".as("s"), $"p", $"s".as("o"))
      // prp-trp: the edges joined with themselves, not with the base edges,
      // so the reached distance doubles each round (a 60-link chain closes
      // in 6 growing rounds plus one confirming round)
      for (tp <- trans) {
        val edges = out.filter($"p" === tp)
        derived += edges.select($"s", $"o".as("_m"))
          .join(edges.select($"s".as("_m"), $"o"), "_m")
          .select($"s", lit(tp).as("p"), $"o")
      }
      // cls-oo: enumeration classification
      val ooTriples = oneOfHeads.flatMap { case (cls, h) =>
        lists.getOrElse(h, Nil).map(n => Triple(n, RDF.ty, cls)) }
      if (ooTriples.nonEmpty) derived += TriplesDF.fromTriples(spark, ooTriples)

      // classification, chains and functional-property sameAs
      val typeC = lit(RDF.ty.value).as("p")
      // the subjects typed c, as column _i
      def instances(c: Node) =
        out.filter($"p" === RDF.ty.value && $"o" === termLit(c)).select($"s".as("_i"))
      // one sameAs row per two distinct values sharing a key in d (the
      // other direction comes from eq-sym in eq-rep)
      def pairwiseSameAs(d: DataFrame, key: Column, value: Column) = {
        val kv = d.select(key.as("_k"), value.as("_v")).distinct()
        kv.join(kv.select($"_k".as("_k2"), $"_v".as("_v2")), $"_k" === $"_k2" && $"_v" < $"_v2")
          .select($"_v".as("s"), lit(O("sameAs")).as("p"), $"_v2".as("o"))
      }
      for ((r, c) <- svf; p <- onProp.get(r)) {
        val withP = out.filter($"p" === p)
        // cls-svf2: someValuesFrom owl:Thing — ANY value qualifies
        val vals = if (c == Iri(O("Thing"))) withP
          else withP.join(instances(c), $"o" === $"_i", "left_semi")
        derived += vals.select($"s", typeC, termLit(r).as("o"))
      }
      // cls-maxc2 / cls-maxqc3/4: all values of p on typed subjects
      // collapse into one individual via sameAs (literal values excluded,
      // like prp-fp); a qualified restriction keeps only the values typed
      // with its onClass (owl:Thing or absent = unqualified, maxqc4)
      val maxC = maxC1.map(_ -> Option.empty[Node]) ++ maxQC1.map(r => r -> onClass.get(r))
      for ((r, qual) <- maxC.distinct; p <- onProp.get(r)) {
        val typed = out.filter($"p" === p && $"o"("k") =!= 2)
          .join(instances(r), $"s" === $"_i", "left_semi")
        val vals = qual.filter(_ != Iri(O("Thing")))
          .fold(typed)(c => typed.join(instances(c), $"o" === $"_i", "left_semi"))
        derived += pairwiseSameAs(vals, $"s", $"o")
      }
      for ((r, c) <- avf; p <- onProp.get(r)) {
        derived += out.filter($"p" === p && $"o"("k") =!= 2)
          .join(instances(r), $"s" === $"_i", "left_semi")
          .select($"o".as("s"), typeC, termLit(c).as("o"))
      }
      for ((r, v) <- hv; p <- onProp.get(r)) {
        derived += instances(r).select($"_i".as("s"), lit(p).as("p"), termLit(v).as("o")) // cls-hv1
        // cls-hv2 compares keys, so a language tag matches in any case
        derived += out.filter($"p" === p && termKey($"o") === v.key)
          .select($"s", typeC, termLit(r).as("o"))
      }
      for ((p, parts) <- chains) {
        var acc = out.filter($"p" === parts.head).select($"s", $"o")
        for (pi <- parts.tail) {
          val step = out.filter($"p" === pi).select($"s".as("_js"), $"o".as("_jo"))
          acc = acc.join(step, $"o" === $"_js").select($"s", $"_jo".as("o"))
        }
        derived += acc.select($"s", lit(p).as("p"), $"o")
      }
      for (p <- fps)
        derived += pairwiseSameAs(out.filter($"p" === p && $"o"("k") =!= 2), $"s", $"o")
      // prp-ifp keys on the object's key, so a language tag matches in any case
      for (p <- ifps)
        derived += pairwiseSameAs(out.filter($"p" === p), termKey($"o"), $"s")
      derived.toSeq
    }

    // eq-rep: owl:sameAs symmetric-transitive closure, then replicate every
    // statement onto ALL alias combinations in one pass — the (member,
    // alias) term table includes identity pairs, so joining it on BOTH the
    // subject and the object yields the full fixpoint product (a triple
    // whose subject AND object are aliased gets every doubly-substituted
    // variant; two single-pass derivations missed those). An alias is a
    // stored term, so a literal alias replicates as that literal.
    // Small alias sets (the corpora) come from a driver BFS + broadcast;
    // past DriverSameAsLimit edges, components run distributed through the
    // ConnectedComponents operator and the pair table stays a join.
    def eqRep(): Long = {
      val sameAsEdges = out.filter($"p" === O("sameAs"))
        .select($"s".as("_src"), $"o".as("_dst"))
        .filter($"_src" =!= $"_dst").distinct()
      val probe = sameAsEdges.limit(DriverSameAsLimit + 1).count()
      if (probe == 0) 0L else {
        val pairsDF: DataFrame =
          if (probe <= DriverSameAsLimit) {
            val sameAs = sameAsEdges.collect().toSeq
              .map(r => (TriplesDF.nodeOf(r.getStruct(0)), TriplesDF.nodeOf(r.getStruct(1))))
            val undirected = (sameAs ++ sameAs.map(_.swap)).distinct
            val adj = undirected.groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2) }
            val comp = scala.collection.mutable.Map.empty[Node, Set[Node]]
            for (start <- adj.keys if !comp.contains(start)) {
              val cluster = Closure.reach(Seq(start), adj.getOrElse(_: Node, Nil))
              cluster.foreach(m => comp(m) = cluster)
            }
            broadcast(comp.toSeq.flatMap { case (m, cl) => cl.map(a => (TermRow.of(m), TermRow.of(a))) }
              .toDF("_from", "_to"))
          } else {
            // node ids via xxhash64 of the term (collision odds negligible
            // at any realistic identity-graph size); map back through the
            // term table after the star-contraction converges
            val nodes = sameAsEdges.select($"_src".as("_term"))
              .unionByName(sameAsEdges.select($"_dst".as("_term"))).distinct()
              .withColumn("id", xxhash64($"_term"))
            val cc = graft.kg.ConnectedComponents.run(spark,
              sameAsEdges.select(xxhash64($"_src").as("src"), xxhash64($"_dst").as("dst")))
            val assign = nodes.join(cc, "id").select($"_term", $"component")
            assign.join(assign.select($"_term".as("_to"), $"component"), "component")
              .select($"_term".as("_from"), $"_to")
          }
        val subDF = pairsDF.select($"_from".as("_sfrom"), $"_to".as("_sto"))
        val objDF = pairsDF.select($"_from".as("_ofrom"), $"_to".as("_oto"))
        // only rows with an aliased term can be new: a row with neither
        // alias equals its original
        val (grown, n) = Closure.absorb(out, out
          .join(subDF, $"s" === $"_sfrom", "left")
          .join(objDF, $"o" === $"_ofrom", "left")
          .filter($"_sto".isNotNull || $"_oto".isNotNull)
          .select(coalesce($"_sto", $"s").as("s"), $"p", coalesce($"_oto", $"o").as("o")))
        out = grown
        n
      }
    }

    var round = 0
    var grew = true
    while (grew) {
      round += 1
      val step = rules()
      val n1 = if (step.isEmpty) 0L else {
        val (grown, n) = Closure.absorb(out, step.reduce(_ unionByName _))
        out = grown
        n
      }
      // eq-rep's alias product is closed under eq-rep for the components it
      // used, so it runs again only after the other rules added rows
      val n2 = if (round == 1 || n1 > 0) eqRep() else 0L
      grew = n1 + n2 > 0
      // the round after the cap only checks that nothing is left
      if (grew && round > MaxRounds)
        throw new ReportableError(s"OWL-RL fixpoint did not converge within $MaxRounds " +
          "rounds; the closure would be incomplete.")
    }
    out
  }

  /** OWL-RL INCONSISTENCY detection over a (closed) triples frame — the
    * "false" rules the materialization path cannot express as new triples
    * (the reference's owlrl library raises on these; here they return as a
    * distributed diagnostics frame (rule, node, detail) so a 100 TB KG can
    * route them to a quality report instead of aborting):
    *
    *   eq-diff1     x sameAs y  ∧  x differentFrom y
    *   cls-nothing2 x rdf:type owl:Nothing
    *   cls-maxc1    R maxCardinality 0 on p ∧ x type R ∧ (x p y)
    *   prp-irp      p a IrreflexiveProperty ∧ (x p x)
    *   prp-asyp     p a AsymmetricProperty ∧ (x p y) ∧ (y p x)
    *   prp-pdw      p1 propertyDisjointWith p2 ∧ (x p1 y) ∧ (x p2 y)
    *   cax-dw       c1 disjointWith c2 ∧ x type c1 ∧ x type c2
    *   dt-not-type  ill-formed lexical form for a known XSD datatype
    *
    * Schema (property/class declarations) is collected driver-side like the
    * rest of the closure; instance work stays joins. Run AFTER expand() so
    * sameAs replication and classification have materialized. */
  def inconsistencies(spark: SparkSession, df: DataFrame): DataFrame = {
    import spark.implicits._
    def nodeK(c: org.apache.spark.sql.Column) = termKey(c)

    val schema = TriplesDF.collectTriples(df.filter(
      $"p".isin(O("propertyDisjointWith"), O("disjointWith"), O("onProperty"),
        O("maxCardinality"), O("cardinality")) ||
        ($"p" === RDF.ty.value && $"o"("k") === 0 &&
          $"o"("v").isin(O("IrreflexiveProperty"), O("AsymmetricProperty")))))
    val onProp: Map[Node, String] = schema.collect {
      case Triple(s, p, Iri(o)) if p.value == O("onProperty") => s -> o }.toMap
    val maxC0: Seq[Node] = schema.collect {
      case Triple(s, p, o: Lit) if (p.value == O("maxCardinality") ||
        p.value == O("cardinality")) && o.lex.trim.toIntOption.contains(0) => s }
    val irrefl = schema.collect {
      case Triple(Iri(pv), p, Iri(t)) if p == RDF.ty && t == O("IrreflexiveProperty") => pv }
    val asym = schema.collect {
      case Triple(Iri(pv), p, Iri(t)) if p == RDF.ty && t == O("AsymmetricProperty") => pv }
    val pdw = schema.collect {
      case Triple(Iri(a), p, Iri(b)) if p.value == O("propertyDisjointWith") => (a, b) }
    val cdw = schema.collect {
      case Triple(a, p, b) if p.value == O("disjointWith") => (a, b) }

    val legs = scala.collection.mutable.ListBuffer.empty[DataFrame]
    def leg(rule: String, d: DataFrame, node: org.apache.spark.sql.Column,
            detail: org.apache.spark.sql.Column): Unit =
      legs += d.select(lit(rule).as("rule"), node.as("node"), detail.as("detail"))

    // eq-diff1
    val sameAs = df.filter($"p" === O("sameAs"))
      .select(nodeK($"s").as("_x"), nodeK($"o").as("_y"))
    val diff = df.filter($"p" === O("differentFrom"))
      .select(nodeK($"s").as("_x"), nodeK($"o").as("_y"))
    leg("eq-diff1", sameAs.join(diff, Seq("_x", "_y")),
      col("_x"), concat(lit("sameAs+differentFrom "), col("_y")))
    // cls-nothing2
    leg("cls-nothing2",
      df.filter($"p" === RDF.ty.value && $"o"("k") === 0 && $"o"("v") === O("Nothing")),
      nodeK($"s"), lit("typed owl:Nothing"))
    // cls-maxc1
    for (r <- maxC0; p <- onProp.get(r)) {
      val typed = df.filter($"p" === RDF.ty.value && termKey($"o") === r.key)
        .select(nodeK($"s").as("_tk"))
      leg("cls-maxc1",
        df.filter($"p" === p).join(typed, nodeK($"s") === $"_tk", "left_semi"),
        nodeK($"s"), concat(lit(s"cardinality-0 property <$p> has value "), nodeK($"o")))
    }
    // prp-irp
    if (irrefl.nonEmpty)
      leg("prp-irp",
        df.filter($"p".isin(irrefl: _*) && nodeK($"s") === nodeK($"o")),
        nodeK($"s"), concat(lit("irreflexive <"), $"p", lit("> self-edge")))
    // prp-asyp
    for (p <- asym) {
      val e = df.filter($"p" === p).select(nodeK($"s").as("_x"), nodeK($"o").as("_y"))
      val rev = e.select($"_y".as("_x"), $"_x".as("_y"))
      leg("prp-asyp", e.join(rev, Seq("_x", "_y")),
        col("_x"), concat(lit(s"asymmetric <$p> both directions with "), col("_y")))
    }
    // prp-pdw
    for ((p1, p2) <- pdw) {
      val a = df.filter($"p" === p1).select(nodeK($"s").as("_x"), nodeK($"o").as("_y"))
      val b = df.filter($"p" === p2).select(nodeK($"s").as("_x"), nodeK($"o").as("_y"))
      leg("prp-pdw", a.join(b, Seq("_x", "_y")),
        col("_x"), lit(s"disjoint properties <$p1>/<$p2> share a value"))
    }
    // dt-not-type: an ill-formed lexical form for its declared datatype
    // (owlrl's datatype checking; the rdf_well_typed kernel already backs
    // sh:datatype). Unknown datatypes are not flagged — only lexical
    // violations of the XSD types the kernel understands.
    Kernels.ensure(spark)
    leg("dt-not-type",
      df.filter($"o"("k") === 2 && $"o"("dt") =!= "" &&
        !call_function("rdf_well_typed", $"o"("v"), $"o"("dt"))),
      nodeK($"s"),
      concat(lit("ill-typed literal \""), $"o"("v"), lit("\"^^"), $"o"("dt")))
    // cax-dw
    for ((c1, c2) <- cdw) {
      val a = df.filter($"p" === RDF.ty.value && termKey($"o") === c1.key)
        .select(nodeK($"s").as("_x"))
      val b = df.filter($"p" === RDF.ty.value && termKey($"o") === c2.key)
        .select(nodeK($"s").as("_x"))
      leg("cax-dw", a.join(b, Seq("_x")),
        col("_x"), lit(s"member of disjoint classes ${c1.key} and ${c2.key}"))
    }
    legs.reduceOption(_ unionByName _)
      .map(_.distinct())
      .getOrElse(spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("rule", org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("node", org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("detail", org.apache.spark.sql.types.StringType)))))
  }

  /** Strict parity mode (failOnInconsistency / CLI --strict-owlrl): the
    * reference's owlrl run fails on inconsistent data and validation
    * aborts (run_type.py:82-85 wraps it as "Error while running OWL-RL
    * Deductive Closure"); the engine's default instead routes detections
    * to the [[inconsistencies]] diagnostics frame and proceeds — the right
    * shape at 100 TB, where one bad row must not kill a cluster-day of
    * validation. This escalates a non-empty frame to the reference's
    * failure text, quoting a bounded sample of the offending nodes. */
  def requireConsistent(spark: SparkSession, df: DataFrame): Unit = {
    val bad = inconsistencies(spark, df).limit(5).collect()
    if (bad.nonEmpty) {
      val detail = bad.map(r =>
        s"${r.getString(0)}: ${r.getString(1)} (${r.getString(2)})").mkString("; ")
      throw new ReportableError(
        "Error while running OWL-RL Deductive Closure\n" +
          s"inconsistent data graph: $detail")
    }
  }
}
