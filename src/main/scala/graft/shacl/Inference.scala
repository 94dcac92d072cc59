package graft.shacl

import graft.rdf._
import graft.rdf.TriplesDF.{termKey, termLit}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** RDFS-subset closure over a triples DataFrame, mirroring the reference's
  * pre-validation inference step (inference='rdfs',
  * /root/reference/pyshacl/run_type.py:21-85 +
  * custom_rdfs_closure.py:34-55 — literal/Resource axiom noise is
  * deliberately not generated; the reference's comparator scrubs it anyway).
  *
  * Schema triples (subClassOf/subPropertyOf/domain/range) are collected to
  * the driver — ontology schemas stay small even when instance data is
  * 100 TB — and pushed back in as broadcastable literal pair-tables, so the
  * instance-scale work is three joins + a union, no fixpoint over big data:
  *   rdfs7  (s,p,o) + p subPropertyOf* q       -> (s,q,o)
  *   rdfs2  (s,p,o) + domain(p,c)              -> (s,type,c)
  *   rdfs3  (s,p,o) + range(p,c), o not lit    -> (o,type,c)
  *   rdfs9  (x,type,c) + c subClassOf* d       -> (x,type,d)
  *   rdfs5/11 transitive closures of the schema predicates themselves.
  */
object RdfsInference {

  private def transitive(pairs: Seq[(String, String)]): Seq[(String, String)] = {
    val adj = pairs.groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2) }
    def succ(n: String): Seq[String] = adj.getOrElse(n, Nil)
    adj.keys.toSeq.flatMap(start => Closure.reach(succ(start), succ).map(start -> _))
  }

  private def keyNode(k: String): Node =
    if (k.startsWith("_:")) BNode(k.drop(2)) else Iri(k.drop(1).dropRight(1))

  def expand(spark: SparkSession, df: DataFrame): DataFrame = {
    import spark.implicits._
    val schemaPreds = Seq(RDFS.subClassOf, RDFS.subPropertyOf, RDFS.domain, RDFS.range).map(_.value)
    val schema = df.filter($"p".isin(schemaPreds: _*))
      .select($"p", termKey($"s").as("sk"), termKey($"o").as("ok")).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSeq
    if (schema.isEmpty) return df

    val sc = transitive(schema.collect { case (p, s, o) if p == RDFS.subClassOf.value => (s, o) })
    val sp = transitive(schema.collect { case (p, s, o) if p == RDFS.subPropertyOf.value => (s, o) })
      // only IRI properties can appear in predicate position
      .filter { case (s, o) => s.startsWith("<") && o.startsWith("<") }
      .map { case (s, o) => (s.drop(1).dropRight(1), o.drop(1).dropRight(1)) }
    val dom = schema.collect { case (p, s, o) if p == RDFS.domain.value && s.startsWith("<") =>
      (s.drop(1).dropRight(1), o) }
    val rng = schema.collect { case (p, s, o) if p == RDFS.range.value && s.startsWith("<") =>
      (s.drop(1).dropRight(1), o) }

    var out = df
    // rdfs7: subPropertyOf propagation
    val withSuper =
      if (sp.isEmpty) df
      else {
        val spDF = sp.toDF("_sub", "_sup")
        val derived = df.join(broadcast(spDF), df("p") === $"_sub")
          .select($"s", $"_sup".as("p"), $"o")
        out = out.unionByName(derived)
        out
      }
    // rdfs2/3: domain/range type derivation (range skips literal objects)
    val typed = scala.collection.mutable.ListBuffer.empty[DataFrame]
    if (dom.nonEmpty) {
      val domDF = dom.toDF("_dp", "_dc")
      typed += withSuper.join(broadcast(domDF), withSuper("p") === $"_dp")
        .select($"s", lit(RDF.ty.value).as("p"),
          termKeyToTermCol(spark, $"_dc").as("o"))
    }
    if (rng.nonEmpty) {
      val rngDF = rng.toDF("_rp", "_rc")
      typed += withSuper.join(broadcast(rngDF), withSuper("p") === $"_rp")
        .filter($"o"("k") =!= 2)
        .select($"o".as("s"), lit(RDF.ty.value).as("p"),
          termKeyToTermCol(spark, $"_rc").as("o"))
    }
    typed.foreach(t => out = out.unionByName(t))
    // rdfs9: type propagation up the class hierarchy
    if (sc.nonEmpty) {
      val scDF = sc.toDF("_csub", "_csup")
      val upTypes = out.filter($"p" === RDF.ty.value)
        .join(broadcast(scDF), termKey($"o") === $"_csub")
        .select($"s", lit(RDF.ty.value).as("p"), termKeyToTermCol(spark, $"_csup").as("o"))
      out = out.unionByName(upTypes)
      // rdfs11: materialized transitive subClassOf triples
      val scTriples = TriplesDF.fromTriples(spark,
        sc.map { case (a, b) => Triple(keyNode(a), RDFS.subClassOf, keyNode(b)) })
      out = out.unionByName(scTriples)
    }
    out.distinct()
  }

  /** Build a term struct column from a term-key string column (keys here are
    * only IRIs/BNodes from the collected schema). */
  private[shacl] def termKeyToTermCol(spark: SparkSession, keyCol: org.apache.spark.sql.Column) = {
    import org.apache.spark.sql.functions._
    when(keyCol.startsWith("_:"),
      struct(keyCol.substr(lit(3), length(keyCol)).as("v"), lit(1.toByte).as("k"),
        lit("").as("dt"), lit("").as("lang")))
      .otherwise(
        struct(regexp_replace(keyCol, "^<|>$", "").as("v"), lit(0.toByte).as("k"),
          lit("").as("dt"), lit("").as("lang")))
  }
}

/** OWL-RL-lite closure (inference='owlrl' / 'both',
  * /root/reference/pyshacl/run_type.py:21-85). The reference delegates to
  * the owlrl library's full materialization; here the instance-affecting
  * core of OWL-RL runs as DataFrame rules on top of the RDFS closure:
  *
  *   prp-inv    p owl:inverseOf q + (s,p,o)          -> (o,q,s) (and sym.)
  *   prp-symp   p a owl:SymmetricProperty + (s,p,o)  -> (o,p,s)
  *   prp-trp    p a owl:TransitiveProperty (fixpoint over instance data)
  *   cax-eqc    a owl:equivalentClass b              -> mutual subclassing
  *   prp-eqp    p owl:equivalentProperty q           -> mutual subproperty
  *   prp-spo2   p owl:propertyChainAxiom (p1..pn)    -> chain join (fixpoint)
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
  * The classification/chain/functional/cardinality rules run in one bounded
  * fixpoint (they feed each other), and {classify -> sameAs-replicate}
  * iterates to an OUTER fixpoint so replicated triples re-fire chains and
  * classification. Restriction and chain schema is collected driver-side
  * (schema-scale); instance work is joins. The "false" rules that cannot
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

  /** Cap of the prp-trp closure (in steps) and of the classification
    * fixpoint (in rounds). Both converge long before it on real
    * ontologies; hitting it means the closure is incomplete, which must
    * not pass silently as a conformance verdict. */
  val MaxRounds = 50

  /** Cap of the outer {classify → eq-rep} fixpoint, in rounds after the
    * first pass; each round costs a classification fixpoint and a sameAs
    * replication of the whole graph. */
  val MaxOuterRounds = 10

  private def capExceeded(what: String, cap: Int): Nothing =
    throw new ReportableError(
      s"$what did not converge within $cap rounds; the closure would be incomplete.")

  def expand(spark: SparkSession, df0: DataFrame): DataFrame = {
    import spark.implicits._
    // schema harvest (small): inverseOf / equivalentClass / equivalentProperty
    // / symmetric+transitive property declarations
    val schemaPreds = Seq(O("inverseOf"), O("equivalentClass"), O("equivalentProperty"))
    val schema = df0.filter($"p".isin(schemaPreds: _*) ||
        ($"p" === RDF.ty.value && $"o"("k") === 0 &&
          $"o"("v").isin(O("SymmetricProperty"), O("TransitiveProperty"))))
      .select($"p", termKey($"s").as("sk"), $"o"("v").as("ov"), termKey($"o").as("ok"))
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getString(3))).toSeq

    def iriOf(k: String): Option[String] =
      if (k.startsWith("<")) Some(k.drop(1).dropRight(1)) else None

    val inv = schema.collect { case (p, sk, ov, _) if p == O("inverseOf") =>
      iriOf(sk).map(s => (s, ov)) }.flatten
    val eqp = schema.collect { case (p, sk, ov, _) if p == O("equivalentProperty") =>
      iriOf(sk).map(s => (s, ov)) }.flatten
    val eqc = schema.collect { case (p, sk, _, ok) if p == O("equivalentClass") => (sk, ok) }
    val sym = schema.collect { case (p, sk, ov, _)
      if p == RDF.ty.value && ov == O("SymmetricProperty") => iriOf(sk) }.flatten
    val trans = schema.collect { case (p, sk, ov, _)
      if p == RDF.ty.value && ov == O("TransitiveProperty") => iriOf(sk) }.flatten

    // equivalences become extra RDFS schema triples, then the RDFS closure
    // runs once over the union
    val extraSchema = eqc.flatMap { case (a, b) =>
      def n(k: String): Node = if (k.startsWith("_:")) BNode(k.drop(2)) else Iri(k.drop(1).dropRight(1))
      Seq(Triple(n(a), RDFS.subClassOf, n(b)), Triple(n(b), RDFS.subClassOf, n(a)))
    } ++ eqp.flatMap { case (a, b) =>
      Seq(Triple(Iri(a), RDFS.subPropertyOf, Iri(b)), Triple(Iri(b), RDFS.subPropertyOf, Iri(a)))
    }
    var out =
      if (extraSchema.isEmpty) df0
      else df0.unionByName(TriplesDF.fromTriples(spark, extraSchema))

    // prp-inv: both directions of each inverse pair
    val invPairs = (inv ++ inv.map(x => (x._2, x._1))).distinct
    if (invPairs.nonEmpty) {
      val invDF = invPairs.toDF("_ip", "_iq")
      out = out.unionByName(
        out.join(broadcast(invDF), out("p") === $"_ip")
          .select($"o".as("s"), $"_iq".as("p"), $"s".as("o")))
    }
    // prp-symp
    if (sym.nonEmpty)
      out = out.unionByName(
        out.filter($"p".isin(sym: _*)).select($"o".as("s"), $"p", $"s".as("o")))
    out = out.distinct().localCheckpoint()

    // prp-trp: per transitive property, the closure kernel over (s, o)
    // pairs. A step joins the frontier with the closure reached so far, not
    // with the base edges, so the reached distance grows geometrically (a
    // 60-link chain closes in 12 steps of the 50 allowed).
    for (tp <- trans) {
      val edges = out.filter($"p" === tp).select($"s", $"o").distinct()
      val closed = Closure(edges, MaxRounds, s"owl:TransitiveProperty closure of <$tp>") {
        (frontier, reached) =>
          frontier.select($"s".as("_fs"), $"o".as("_fo"))
            .join(reached.select($"s".as("_rs"), $"o".as("_ro")), $"_fo" === $"_rs")
            .select($"_fs".as("s"), $"_ro".as("o")).distinct()
      }
      out = out.unionByName(closed.select($"s", lit(tp).as("p"), $"o")).distinct()
    }

    // ---- restriction / chain / functional-property schema (driver-scale)
    val extTriples = TriplesDF.collectTriples(out.filter(
      $"p".isin(O("propertyChainAxiom"), O("onProperty"), O("someValuesFrom"),
        O("allValuesFrom"), O("hasValue"), O("oneOf"), O("onClass"),
        O("maxCardinality"), O("maxQualifiedCardinality"), O("cardinality"),
        O("qualifiedCardinality")) ||
        ($"p" === RDF.ty.value && $"o"("k") === 0 &&
          $"o"("v").isin(O("FunctionalProperty"), O("InverseFunctionalProperty")))))
    val onProp: Map[Node, String] = extTriples.collect {
      case Triple(s, p, Iri(o)) if p.value == O("onProperty") => s -> o }.toMap
    val svf = extTriples.collect {
      case Triple(s, p, o) if p.value == O("someValuesFrom") => (s, o) }
    val avf = extTriples.collect {
      case Triple(s, p, o) if p.value == O("allValuesFrom") => (s, o) }
    val hv = extTriples.collect {
      case Triple(s, p, o) if p.value == O("hasValue") => (s, o) }
    val fps = extTriples.collect {
      case Triple(Iri(pv), p, Iri(t)) if p == RDF.ty && t == O("FunctionalProperty") => pv }
    val ifps = extTriples.collect {
      case Triple(Iri(pv), p, Iri(t)) if p == RDF.ty && t == O("InverseFunctionalProperty") => pv }
    val onClass: Map[Node, Node] = extTriples.collect {
      case Triple(s, p, o) if p.value == O("onClass") => s -> o }.toMap
    // cls-maxc2 / cls-maxqc3/4: only the cardinality-1 restrictions derive
    // sameAs between the values of the restricted property on typed
    // subjects. (owl:cardinality 1 implies maxCardinality 1.)
    def card1(pred: String): Seq[Node] = extTriples.collect {
      case Triple(s, p, o: Lit) if p.value == O(pred) &&
        o.lex.trim.toIntOption.contains(1) => s }
    val maxC1 = (card1("maxCardinality") ++ card1("cardinality")).distinct
    val maxQC1 = (card1("maxQualifiedCardinality") ++ card1("qualifiedCardinality")).distinct
    val chainHeads = extTriples.collect {
      case Triple(Iri(pv), p, h) if p.value == O("propertyChainAxiom") => (pv, h) }
    val oneOfHeads = extTriples.collect {
      case Triple(cls, p, h) if p.value == O("oneOf") => (cls, h) }

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
    val lists = resolveLists(chainHeads.map(_._2) ++ oneOfHeads.map(_._2))
    val chains = chainHeads.map { case (pv, h) => (pv, lists.getOrElse(h, Nil)
      .collect { case Iri(v) => v }) }.filter(_._2.size >= 2)
    // cls-oo: one-shot enumeration classification
    val ooTriples = oneOfHeads.flatMap { case (cls, h) =>
      lists.getOrElse(h, Nil).map(n => Triple(n, RDF.ty, cls)) }
    if (ooTriples.nonEmpty)
      out = out.unionByName(TriplesDF.fromTriples(spark, ooTriples)).distinct()

    // bounded fixpoint: classification, chains and functional-property
    // sameAs feed each other (owlrl materializes to fixpoint)
    val hasRules = svf.nonEmpty || avf.nonEmpty || hv.nonEmpty || chains.nonEmpty ||
      fps.nonEmpty || ifps.nonEmpty || maxC1.nonEmpty || maxQC1.nonEmpty

    // each returns the number of rows it added to `out`
    def classifyFixpoint(): Long = if (!hasRules) 0L else {
      var added = 0L
      var grew = true
      var round = 0
      while (grew && round < MaxRounds) {
        round += 1
        val typeC = lit(RDF.ty.value).as("p")
        val derived = scala.collection.mutable.ListBuffer.empty[DataFrame]
        for ((r, c) <- svf; p <- onProp.get(r)) {
          if (c == Iri(O("Thing")))
            // cls-svf2: someValuesFrom owl:Thing — ANY value qualifies
            derived += out.filter($"p" === p).select($"s", typeC, termLit(r).as("o"))
          else {
            val typed = out.filter($"p" === RDF.ty.value && termKey($"o") === c.key)
              .select(termKey($"s").as("_tk")).distinct()
            derived += out.filter($"p" === p)
              .join(typed, termKey($"o") === $"_tk", "left_semi")
              .select($"s", typeC, termLit(r).as("o"))
          }
        }
        // cls-maxc2: maxCardinality 1 on typed subjects — all values of p
        // collapse into one individual via sameAs (literal values excluded,
        // like prp-fp)
        for (r <- maxC1; p <- onProp.get(r)) {
          val typed = out.filter($"p" === RDF.ty.value && termKey($"o") === r.key)
            .select(termKey($"s").as("_tk")).distinct()
          val v1 = out.filter($"p" === p && $"o"("k") =!= 2)
            .join(typed, termKey($"s") === $"_tk", "left_semi")
            .select(termKey($"s").as("_k"), $"o").distinct()
          val v2 = v1.select($"_k".as("_k2"), $"o".as("_o2"))
          derived += v1.join(v2, $"_k" === $"_k2" && termKey($"o") < termKey($"_o2"))
            .select($"o".as("s"), lit(O("sameAs")).as("p"), $"_o2".as("o"))
        }
        // cls-maxqc3/4: qualified cardinality 1 — values additionally
        // filtered by onClass (owl:Thing or absent = unqualified, maxqc4)
        for (r <- maxQC1; p <- onProp.get(r)) {
          val typed = out.filter($"p" === RDF.ty.value && termKey($"o") === r.key)
            .select(termKey($"s").as("_tk")).distinct()
          var vals = out.filter($"p" === p && $"o"("k") =!= 2)
            .join(typed, termKey($"s") === $"_tk", "left_semi")
          onClass.get(r) match {
            case Some(c) if c != Iri(O("Thing")) =>
              val typedVal = out.filter($"p" === RDF.ty.value && termKey($"o") === c.key)
                .select(termKey($"s").as("_vk")).distinct()
              vals = vals.join(typedVal, termKey($"o") === $"_vk", "left_semi")
            case _ =>
          }
          val v1 = vals.select(termKey($"s").as("_k"), $"o").distinct()
          val v2 = v1.select($"_k".as("_k2"), $"o".as("_o2"))
          derived += v1.join(v2, $"_k" === $"_k2" && termKey($"o") < termKey($"_o2"))
            .select($"o".as("s"), lit(O("sameAs")).as("p"), $"_o2".as("o"))
        }
        for ((r, c) <- avf; p <- onProp.get(r)) {
          val typed = out.filter($"p" === RDF.ty.value && termKey($"o") === r.key)
            .select(termKey($"s").as("_tk")).distinct()
          derived += out.filter($"p" === p && $"o"("k") =!= 2)
            .join(typed, termKey($"s") === $"_tk", "left_semi")
            .select($"o".as("s"), typeC, termLit(c).as("o"))
        }
        for ((r, v) <- hv; p <- onProp.get(r)) {
          val typed = out.filter($"p" === RDF.ty.value && termKey($"o") === r.key)
          derived += typed.select($"s", lit(p).as("p"), termLit(v).as("o")) // cls-hv1
          derived += out.filter($"p" === p && termKey($"o") === v.key)
            .select($"s", typeC, termLit(r).as("o")) // cls-hv2
        }
        for ((p, parts) <- chains) {
          var acc = out.filter($"p" === parts.head).select($"s", $"o")
          for (pi <- parts.tail) {
            val step = out.filter($"p" === pi)
              .select(termKey($"s").as("_jk"), $"o".as("_jo"))
            acc = acc.join(step, termKey($"o") === $"_jk").select($"s", $"_jo".as("o"))
          }
          derived += acc.select($"s", lit(p).as("p"), $"o")
        }
        for (p <- fps) {
          val tp = out.filter($"p" === p && $"o"("k") =!= 2)
            .select(termKey($"s").as("_k"), $"o").distinct()
          val tp2 = tp.select($"_k".as("_k2"), $"o".as("_o2"))
          derived += tp.join(tp2, $"_k" === $"_k2" && termKey($"o") < termKey($"_o2"))
            .select($"o".as("s"), lit(O("sameAs")).as("p"), $"_o2".as("o"))
        }
        for (p <- ifps) {
          val tp = out.filter($"p" === p)
            .select(termKey($"o").as("_k"), $"s").distinct()
          val tp2 = tp.select($"_k".as("_k2"), $"s".as("_s2"))
          derived += tp.join(tp2, $"_k" === $"_k2" && termKey($"s") < termKey($"_s2"))
            .select($"s", lit(O("sameAs")).as("p"), $"_s2".as("o"))
        }
        if (derived.isEmpty) grew = false
        else {
          val (grown, n) = Closure.absorb(out, derived.reduce(_ unionByName _))
          out = grown
          added += n
          grew = n > 0
        }
      }
      if (grew) capExceeded("OWL-RL classification fixpoint", MaxRounds)
      added
    }

    // eq-rep: owl:sameAs symmetric-transitive closure, then replicate every
    // statement onto ALL alias combinations in one pass — the (member,
    // alias) pair table includes identity pairs, so joining it on BOTH the
    // subject and the object yields the full fixpoint product (a triple
    // whose subject AND object are aliased gets every doubly-substituted
    // variant; two single-pass derivations missed those).
    // Small alias sets (the corpora) come from a driver BFS + broadcast;
    // past DriverSameAsLimit edges, components run distributed through the
    // ConnectedComponents operator and the pair table stays a join.
    def eqRep(): Long = {
    val sameAsEdges = out.filter($"p" === O("sameAs"))
      .select(termKey($"s").as("_src"), termKey($"o").as("_dst"))
      .filter($"_src" =!= $"_dst").distinct()
    val probe = sameAsEdges.limit(DriverSameAsLimit + 1).count()
    if (probe == 0) 0L else {
      val pairsDF: DataFrame =
        if (probe <= DriverSameAsLimit) {
          val sameAs = sameAsEdges.collect().map(r => (r.getString(0), r.getString(1))).toSeq
          val undirected = (sameAs ++ sameAs.map(x => (x._2, x._1))).distinct
          val adj = undirected.groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2) }
          val comp = scala.collection.mutable.Map.empty[String, Set[String]]
          for (start <- adj.keys if !comp.contains(start)) {
            val cluster = Closure.reach(Seq(start), adj.getOrElse(_: String, Nil))
            cluster.foreach(m => comp(m) = cluster)
          }
          broadcast(comp.toSeq.flatMap { case (m, cl) => cl.map(a => (m, a)) }
            .toDF("_from", "_to"))
        } else {
          // node ids via xxhash64 of the term key (collision odds negligible
          // at any realistic identity-graph size); map back through the key
          // table after the star-contraction converges
          val nodes = sameAsEdges.select($"_src".as("_key"))
            .unionByName(sameAsEdges.select($"_dst".as("_key"))).distinct()
            .withColumn("id", xxhash64($"_key"))
          val cc = graft.kg.ConnectedComponents.run(spark,
            sameAsEdges.select(xxhash64($"_src").as("src"), xxhash64($"_dst").as("dst")))
          val assign = nodes.join(cc, "id").select($"_key", $"component")
          assign.join(assign.select($"_key".as("_to"), $"component"), "component")
            .select($"_key".as("_from"), $"_to")
        }
      val subDF = pairsDF.select($"_from".as("_sfrom"), $"_to".as("_sto"))
      val objDF = pairsDF.select($"_from".as("_ofrom"), $"_to".as("_oto"))
      // only rows with an aliased term can be new: a row with neither
      // alias equals its original
      val (grown, n) = Closure.absorb(out, out
        .join(subDF, termKey($"s") === $"_sfrom", "left")
        .join(objDF, termKey($"o") === $"_ofrom", "left")
        .filter($"_sto".isNotNull || $"_oto".isNotNull)
        .select(
          when($"_sto".isNull, $"s")
            .otherwise(RdfsInference.termKeyToTermCol(spark, $"_sto")).as("s"),
          $"p",
          when($"_oto".isNull, $"o")
            .otherwise(RdfsInference.termKeyToTermCol(spark, $"_oto")).as("o")))
      out = grown
      n
    }
    }

    // {classify → eq-rep} to OUTER fixpoint: sameAs-replicated triples must
    // re-fire chains/classification, and fp/ifp over replicated triples can
    // mint new sameAs pairs (the reference's owlrl library materializes to
    // the full fixpoint, run_type.py:21-85). Without rules one eq-rep pass
    // is already complete.
    var grew = classifyFixpoint() + eqRep() > 0
    var outer = 0
    while (hasRules && grew) {
      outer += 1
      grew = classifyFixpoint() + eqRep() > 0
      // the round after the cap only checks that nothing is left
      if (grew && outer > MaxOuterRounds)
        capExceeded("OWL-RL {classify → eq-rep} fixpoint", MaxOuterRounds)
    }
    // RDFS closure over the enriched graph (covers rdfs2/3/5/7/9/11 with
    // the equivalence-derived schema in place)
    RdfsInference.expand(spark, out)
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
