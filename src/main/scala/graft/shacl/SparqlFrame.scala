package graft.shacl

import graft.rdf._
import graft.rdf.TriplesDF.{termLit, termKey, termType}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Set-oriented SPARQL evaluation over a triples DataFrame.
  *
  * The reference evaluates each SHACL-SPARQL query once *per focus node*
  * with rdflib initBindings
  * (/root/reference/pyshacl/constraints/sparql/sparql_based_constraints.py:118-133).
  * Here pre-bound variables arrive as a *bindings DataFrame* (one row per
  * focus / per (focus, value) pair) and the whole query compiles into one
  * DataFrame plan: BGPs become joins against the triples frame, FILTER
  * becomes a codegen'd predicate, OPTIONAL a left join, EXISTS a semi-join —
  * so a million focus nodes cost one distributed pass, not a million query
  * evaluations.
  *
  * Solution mappings: one column per SPARQL variable, each a term struct
  * (v,k,dt,lang); NULL = unbound. Variables introduced under OPTIONAL /
  * UNION are tracked in `maybeNull` and joined with SPARQL-compatible
  * (null-tolerant) semantics.
  *
  * One evaluator serves every active graph: a group evaluates in a
  * [[Scope]] — the frame its patterns match, plus for `GRAPH ?x` a hidden
  * graph key that every pattern binds from the quads `g` column. A quad is
  * one more column of the same table, so a block over any number of named
  * graphs compiles to one fixed-size plan, with joins, OPTIONAL, EXISTS,
  * MINUS, sub-selects and SHACLFunction bodies keyed per graph.
  */
final class SparqlFrame(
    spark: SparkSession,
    T: DataFrame,
    pathStep: (DataFrame, PathIR) => DataFrame,
    fns: Map[String, ShaclFnDef],
    shapePath: Option[PathIR],
    /** shapes graph as a triples frame: GRAPH $shapesGraph { ... } patterns
      * evaluate against it. The reference raises NotImplementedError here
      * (its own CI allow-fails shapesGraph-001); this engine has the shapes
      * graph at hand and supports it. */
    shapesT: Option[DataFrame] = None,
    /** named data graphs as a quads frame (s,p,o,g): GRAPH <iri> patterns
      * match one graph, GRAPH ?g patterns every named graph at once with ?g
      * bound per match (the reference queries rdflib Datasets as unions or
      * per-graph, graph_abstraction.py:112-128). */
    quads: Option[DataFrame] = None,
    /** fixpoint cap for property-path closures evaluated directly by this
      * frame (paths outside the default graph) — thread
      * ValidationOptions.maxPathDepth here; exceeding it throws, never
      * truncates. */
    maxPathDepth: Int = 100) {
  import Sparql._

  Kernels.ensure(spark)

  /** Where a group's patterns match: `frame` is a triples frame (default,
    * shapes or one named graph), or under `GRAPH ?x` the named-graph slice
    * of the quads with `key` set — the hidden variable every pattern binds
    * from the `g` column, so joins, correlations and aggregates stay within
    * one graph. */
  private final case class Scope(frame: DataFrame, key: Option[String] = None)

  private val dflt = Scope(T)

  final case class Sol(df: DataFrame, vars: Set[String], maybeNull: Set[String])

  /** A 1-row, no-binding seed (targets, query test cases). */
  def unitSeed: Sol =
    Sol(spark.range(1).select(lit(1).as("__unit")), Set("__unit"), Set.empty)

  def sol(df: DataFrame, vars: Set[String]): Sol = Sol(df, vars, Set.empty)

  private def nullT: Column = lit(null).cast(termType)
  private def nullB: Column = lit(null).cast(BooleanType)

  // ------------------------------------------------------------- entries
  /** Evaluate a SELECT: returns solutions projected to the query's
    * projection ∪ `keep` (attribution columns like the pre-bound `this`,
    * which the reference keeps implicitly because it loops per focus). */
  def evalSelect(q: SqSelect, seed: Sol, keep: Set[String] = Set.empty): Sol = {
    rootSeed = seed
    project(q, evalGroup(q.where, seed, dflt), keep)
  }

  /** ASK per seed row: returns the distinct seed rows for which the pattern
    * has at least one solution. */
  def evalAsk(q: SqAsk, seed: Sol): Sol = {
    rootSeed = seed
    val g = evalGroup(q.where, seed, dflt)
    val cols = seed.vars.toSeq.sorted.map(col)
    Sol(g.df.select(cols: _*).distinct(), seed.vars, g.maybeNull.intersect(seed.vars))
  }

  /** CONSTRUCT: returns the WHERE solutions (template instantiation is the
    * caller's job — it owns triple-store semantics). */
  def evalWhere(where: SqGroup, seed: Sol): Sol = {
    rootSeed = seed
    evalGroup(where, seed, dflt)
  }

  private var rootSeed: Sol = _

  /** `sliceBy`: the graph key of a sub-select under GRAPH ?g — when set,
    * OFFSET/LIMIT rank WITHIN each value of that (hidden graph) column
    * instead of slicing the whole frame, because inside GRAPH ?g the
    * sub-select is one evaluation PER GRAPH and SPARQL's Slice applies to
    * each evaluation separately. */
  private def project(q: SqSelect, g0: Sol, keep: Set[String],
                      sliceBy: Option[String] = None,
                      fillEmpty: Option[DataFrame] = None): Sol = {
    // GROUP BY / aggregate projections: aggregate calls in projections and
    // HAVING are lifted into one Spark aggregation keyed by the GROUP BY
    // vars ∪ the pre-bound attribution vars (the reference evaluates each
    // query per focus node, so a "global" aggregate is per-focus there)
    val g = aggregateStep(q, g0, keep, fillEmpty)
    val projVars = scala.collection.mutable.LinkedHashSet.empty[String]
    // a projected variable the WHERE never binds is unbound in every row
    val unbound = q.proj.collect { case PVar(x) if !g.vars.contains(x) => x }.toSet
    var df = g.df
    q.proj.foreach {
      case PStar => projVars ++= g.vars.filterNot(_.startsWith("__"))
      case PVar(x) =>
        if (unbound.contains(x)) df = df.withColumn(x, nullT)
        projVars += x
      case PExpr(e, as) =>
        df = df.withColumn(as, compileT(rewriteAggs(e, g), Sol(df, g.vars, g.maybeNull)))
        projVars += as
    }
    val all = (projVars.toSeq ++ keep.filter(g.vars.contains).filterNot(projVars.contains)).distinct
    // SPARQL 15.1: ORDER BY is evaluated over the PRE-projection solution
    // (extended with SELECT-expression aliases), so keys may reference
    // non-projected variables or arbitrary expressions (rdflib sorts the full
    // solution sequence before Project). Compute each key as a hidden term
    // column now, carry it through projection + DISTINCT, sort, then drop.
    val ordSol = Sol(df, g.vars ++ projVars, g.maybeNull)
    val ordCols = q.orderBy.zipWithIndex.map { case ((e, asc), i) =>
      val name = s"__ord_$i"
      df = df.withColumn(name, compileT(rewriteAggs(e, ordSol), ordSol))
      (name, asc)
    }
    df = df.select((all ++ ordCols.map(_._1)).map(col): _*)
    // SPARQL order: by kind (bnode < IRI < literal), then BY VALUE for
    // numeric literals (rdflib orders 2 < 10, not "10" < "2") and for
    // temporal literals (timezone-normalized instant), then lexically —
    // the family flags keep mixed columns deterministic; an unbound key
    // (null struct) sorts lowest ascending, matching rdflib
    val keys = ordCols.flatMap { case (name, asc) =>
      val c = col(name)
      val n = num(c)
      val ts = when(c("dt").isin(XSD.dateTime, XSD.dateTimeStamp, XSD.date),
        try_to_timestamp(c("v"))).otherwise(lit(null).cast(TimestampType))
      val ks = Seq(c("k"), n.isNull, n, ts.isNull, ts, c("v"))
      if (asc) ks.map(_.asc) else ks.map(_.desc)
    }
    if (q.distinct) {
      if (keys.isEmpty) df = df.dropDuplicates(all)
      else {
        // SPARQL algebra applies OrderBy BEFORE Distinct: the surviving
        // representative of a duplicate group is its FIRST row in sort
        // order (rdflib keeps first occurrence of the sorted sequence).
        // A dropDuplicates here would pick an arbitrary row, making the
        // hidden sort key — and with LIMIT, the result set —
        // nondeterministic. The window partitions by the projected row,
        // so this scales like any keyed aggregation.
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(all.map(col): _*).orderBy(keys: _*)
        df = df.withColumn("__ord_rnk", row_number().over(w))
          .filter(col("__ord_rnk") === 1).drop("__ord_rnk")
      }
    }
    sliceBy.filter(_ => q.offset.nonEmpty || q.limit.nonEmpty) match {
      case Some(hv) =>
        // rank within each graph by the ORDER BY keys; without ORDER BY,
        // SPARQL permits ANY k solutions, so an arbitrary-but-deterministic
        // whole-row order keeps results (and tests) reproducible. The
        // global sort is skipped — solution order cannot survive the join
        // back into the outer block anyway.
        val ordKeys0 = if (keys.nonEmpty) keys
          else all.filterNot(_ == hv).sorted.map(c => col(c).asc)
        val ordKeys = if (ordKeys0.nonEmpty) ordKeys0 else Seq(lit(1).asc)
        val w = org.apache.spark.sql.expressions.Window.partitionBy(col(hv))
          .orderBy(ordKeys: _*)
        df = df.withColumn("__slice_rnk", row_number().over(w))
        val lo = q.offset.getOrElse(0)
        if (lo > 0) df = df.filter(col("__slice_rnk") > lo)
        q.limit.foreach(n => df = df.filter(col("__slice_rnk") <= lo + n))
        df = df.drop("__slice_rnk")
      case None =>
        if (keys.nonEmpty) df = df.orderBy(keys: _*)
        q.offset.foreach(n => df = df.offset(n))
        q.limit.foreach(n => df = df.limit(n))
    }
    if (ordCols.nonEmpty) df = df.select(all.map(col): _*)
    // a projection alias built over a maybeNull aggregate column (the
    // fillEmpty unbound-on-empty-group kinds) is itself maybeNull — null
    // arithmetic stays null, and the downstream join must treat the alias
    // as SPARQL-compatible-when-unbound, not strict-equality-drop it
    val aggNullable = q.proj.collect { case PExpr(e, as) =>
      val ags = scala.collection.mutable.ListBuffer.empty[EAgg]
      collectAggs(e, ags)
      Option.when(ags.exists(a => aggNames.get(a).exists(g.maybeNull.contains)))(as)
    }.flatten.toSet
    Sol(df, all.toSet, (g.maybeNull ++ aggNullable ++ unbound).intersect(all.toSet))
  }

  // ------------------------------------------------------ aggregation
  /** Aggregate names are keyed by the EAgg AST so the same aggregate in a
    * projection and in HAVING shares one computed column. */
  private val aggNames = scala.collection.mutable.Map.empty[EAgg, String]

  private def collectAggs(e: SqExpr, out: scala.collection.mutable.ListBuffer[EAgg]): Unit =
    e match {
      case a: EAgg => out += a
      case EBin(_, l, r) => collectAggs(l, out); collectAggs(r, out)
      case ENot(x) => collectAggs(x, out)
      case ENeg(x) => collectAggs(x, out)
      case ECall(_, args) => args.foreach(collectAggs(_, out))
      case EFnIri(_, args) => args.foreach(collectAggs(_, out))
      case _ =>
    }

  private def rewriteAggs(e: SqExpr, sol: Sol): SqExpr = e match {
    case a: EAgg => EVar(aggNames.getOrElse(a,
      throw new ReportableError("aggregate used outside an aggregation query")))
    case EBin(op, l, r) => EBin(op, rewriteAggs(l, sol), rewriteAggs(r, sol))
    case ENot(x) => ENot(rewriteAggs(x, sol))
    case ENeg(x) => ENeg(rewriteAggs(x, sol))
    case ECall(f, args) => ECall(f, args.map(rewriteAggs(_, sol)))
    case EFnIri(f, args) => EFnIri(f, args.map(rewriteAggs(_, sol)))
    case other => other
  }

  /** Every aggregate a SELECT references (projections, HAVING, ORDER BY). */
  private def selectAggs(q: SqSelect): List[EAgg] = {
    val found = scala.collection.mutable.ListBuffer.empty[EAgg]
    q.proj.foreach { case PExpr(e, _) => collectAggs(e, found); case _ => }
    q.having.foreach(collectAggs(_, found))
    q.orderBy.foreach { case (e, _) => collectAggs(e, found) }
    found.toList
  }

  /** If the query aggregates, run the groupBy/agg and (HAVING) filter;
    * otherwise return the solution untouched. */
  /** `fillEmpty`: catalog frame (one term column named like the single
    * `keep` var) whose rows must ALL appear in a global-aggregate result —
    * the per-graph image of SPARQL's "an aggregate over zero
    * solutions still yields one row". Missing groups get each aggregate's
    * empty-group value per SPARQL 18.5.1 (COUNT/SUM/AVG → 0 — Avg({}) = 0
    * by definition, matching rdflib — GROUP_CONCAT → "", MIN/MAX/SAMPLE →
    * unbound), joined in BEFORE HAVING so `HAVING(?n = 0)` can select
    * exactly the matchless graphs. The unbound-fillable aggregate columns
    * are marked maybeNull so a shared alias joins SPARQL-compatibly
    * upstream instead of strict-equality-dropping the filled row. */
  private def aggregateStep(q: SqSelect, g: Sol, keep: Set[String],
                            fillEmpty: Option[DataFrame] = None): Sol = {
    val found = selectAggs(q)
    if (found.isEmpty && q.groupBy.isEmpty) return g
    val groupCols = (q.groupBy ++ keep.toSeq.sorted).distinct.filter(g.vars.contains)
    val aggExprs = found.distinct.zipWithIndex.map { case (a, i) =>
      val name = s"__agg_$i"
      aggNames(a) = name
      val c: Column = a match {
        case EAgg("COUNT", dist, None, _) =>
          if (dist) numToTerm(countDistinct(struct(g.vars.toSeq.sorted.map(col): _*))
            .cast("decimal(38,10)"))
          else numToTerm(count(lit(1)).cast("decimal(38,10)"))
        case EAgg("COUNT", dist, Some(arg), _) =>
          val t = compileT(arg, g)
          if (dist) numToTerm(countDistinct(t).cast("decimal(38,10)"))
          else numToTerm(count(t).cast("decimal(38,10)"))
        case EAgg("SUM", _, Some(arg), _) =>
          numToTerm(sum(num(compileT(arg, g))).cast("decimal(38,10)"))
        case EAgg("AVG", _, Some(arg), _) =>
          numToTerm(avg(num(compileT(arg, g))).cast("decimal(38,10)"))
        case EAgg("MIN", _, Some(arg), _) => numToTerm(min(num(compileT(arg, g))))
        case EAgg("MAX", _, Some(arg), _) => numToTerm(max(num(compileT(arg, g))))
        case EAgg("SAMPLE", _, Some(arg), _) => first(compileT(arg, g), ignoreNulls = true)
        case EAgg("GROUP_CONCAT", dist, Some(arg), sep) =>
          // str(term) of each solution, joined by the separator. SPARQL
          // leaves solution order unspecified; sort for determinism (the
          // driver's oracle compare hashes cell values).
          val v = compileT(arg, g)("v")
          val items = sort_array(if (dist) collect_set(v) else collect_list(v))
          strT(array_join(items, sep.getOrElse(" ")))
        case other => throw new ReportableError(s"unsupported aggregate $other")
      }
      c.as(name)
    }
    val grouped =
      if (aggExprs.isEmpty) g.df.select(groupCols.map(col): _*).distinct()
      else if (groupCols.isEmpty) g.df.agg(aggExprs.head, aggExprs.tail: _*)
      else g.df.groupBy(groupCols.map(col): _*).agg(aggExprs.head, aggExprs.tail: _*)
    val (filled, fillNullable) = fillEmpty match {
      case Some(cat) if q.groupBy.isEmpty && aggExprs.nonEmpty &&
          keep.size == 1 && groupCols == keep.toSeq =>
        val zero = numToTerm(lit(0).cast("decimal(38,10)"))
        val fills = found.distinct.map { a =>
          val name = aggNames(a)
          (a.fn match {
            case "COUNT" | "SUM" | "AVG" => coalesce(col(name), zero)
            case "GROUP_CONCAT" => coalesce(col(name), strT(lit("")))
            case _ => col(name) // MIN/MAX/SAMPLE over {} = unbound
          }).as(name)
        }
        val nullable = found.distinct
          .filter(a => !Set("COUNT", "SUM", "AVG", "GROUP_CONCAT")(a.fn))
          .map(aggNames(_)).toSet
        (cat.join(grouped, keep.toSeq, "left")
          .select(col(keep.head) +: fills: _*), nullable)
      case _ => (grouped, Set.empty[String])
    }
    var sol = Sol(filled, groupCols.toSet ++ aggNames.values, fillNullable)
    q.having.foreach { h =>
      sol = sol.copy(df = sol.df.filter(compileB(rewriteAggs(h, sol), sol) === true))
    }
    sol
  }

  /** Collect a solution frame driver-side: one Map per row. */
  def collect(s: Sol, vars: Seq[String]): Seq[Map[String, Node]] =
    s.df.select(vars.map(v => (if (s.vars.contains(v)) col(v) else nullT).as(v)): _*)
      .collect().toSeq.map { r =>
        vars.zipWithIndex.flatMap { case (v, i) =>
          Option(r.getStruct(i)).map(st => v -> TriplesDF.nodeOf(st))
        }.toMap
      }

  // -------------------------------------------------------------- groups
  /** One fold over a group: patterns, BIND, OPTIONAL, UNION, MINUS, VALUES,
    * sub-selects and nested GRAPH in order, then the group's FILTERs over
    * the whole group (SPARQL 18.2.2 scopes a FILTER to its group, wherever
    * it sits). Under a graph key the key is bound before the filters: a
    * group none of whose patterns bound it ranges over every named graph.
    * `gv` is the variable of the GRAPH ?x block this group is the body of:
    * it binds to the key there, so the block's BINDs and FILTERs see it. */
  private def evalGroup(g: SqGroup, seed: Sol, sc: Scope, gv: Option[String] = None): Sol = {
    val bound = g.elems.foldLeft(seed)((cur, e) => evalElem(e, cur, sc, gv))
    g.elems.collect { case SqFilter(e) => e }
      .foldLeft(exposeGraph(bound, sc, gv))((cur, e) => filterBy(cur, e, sc))
  }

  private def evalElem(e: SqElem, cur: Sol, sc: Scope, gv: Option[String]): Sol = e match {
    case t: SqTriple => joinSols(cur, triplePattern(t, cur, sc))
    case _: SqFilter => cur // applied over the whole group by evalGroup
    case SqBind(e, v) =>
      if (cur.vars.contains(v))
        throw new ReportableError(s"BIND would re-bind already-bound variable ?$v")
      if (hasExists(e) || hasFullFn(e)) {
        // the EXISTS / function body correlates on (and its result varies
        // with) the graph, so the key must be bound wherever the BIND sits
        val acc = exposeGraph(cur, sc, gv)
        val (e2, s2) = lift(e, acc, sc)
        val df = s2.df.withColumn(v, compileT(e2, s2))
        Sol(df.select((acc.vars + v).toSeq.sorted.map(col): _*), acc.vars + v, acc.maybeNull)
      } else {
        // a BIND over the block's graph var before any pattern bound it
        // (BIND(STR(?g) AS ?u)) sees it bound per graph
        val acc = if (gv.exists(x => !cur.vars.contains(x) && exprVars(e).contains(x)))
          exposeGraph(cur, sc, gv) else cur
        Sol(acc.df.withColumn(v, compileT(e, acc)), acc.vars + v, acc.maybeNull)
      }
    case SqUnion(branches) => unionSols(branches.map(b => evalGroup(b, cur, sc)))
    case SqOptional(g) =>
      // a leading OPTIONAL under a graph key is LeftJoin(Z, A) per graph:
      // its left side carries one row per named graph
      optionalJoin(withKey(cur, sc), g, sc)
    case SqSubSelect(sel) =>
      // sub-selects evaluate against the pre-bound seed (SHACL pre-binding
      // flows into subqueries) and join back on shared variables — under a
      // graph key, on the graph too
      joinSols(cur, subSelect(sel, rootSeed, Set.empty, sc))
    case SqGraphPat(TVar("shapesGraph"), g) if shapesT.isDefined =>
      evalGroup(g, cur, Scope(shapesT.get))
    case SqGraphPat(TVar("shapesGraph"), _) =>
      throw new ReportableError(
        "SPARQL Constraint text has $shapesGraph in it, but Shapes Graph is not currently supported.")
    case SqGraphPat(TConst(Iri(name)), g) if quads.isDefined =>
      evalGroup(g, cur, Scope(QuadsDF.graph(quads.get, Some(name))))
    case SqGraphPat(TVar(x), g) if quads.isDefined =>
      // every named graph at once: a fresh hidden key, so a nested GRAPH ?y
      // (at any depth, also under GRAPH <iri>) ranges over all graphs again
      keyCounter += 1
      val k = s"__g$keyCounter"
      val r = evalGroup(g, cur, Scope(quads.get.filter(col("g") =!= ""), Some(k)), Some(x))
      Sol(r.df.drop(k), r.vars - k, r.maybeNull - k)
    case SqGraphPat(other, _) =>
      throw new ReportableError(s"GRAPH patterns are not supported (got $other)")
    case SqValues(vs, rows) =>
      // inline data: a literal solution frame joined in like any other
      // group element (UNDEF = NULL = maybe-null join semantics)
      val schema = StructType(vs.map(v => StructField(v, termType, nullable = true)))
      val data = rows.map(r => Row(r.map(_.map(TriplesDF.rowOf).orNull): _*))
      val df = spark.createDataFrame(
        new java.util.ArrayList[Row](scala.jdk.CollectionConverters.SeqHasAsJava(data).asJava),
        schema)
      val mn = vs.zipWithIndex.collect {
        case (v, i) if rows.exists(_(i).isEmpty) => v
      }.toSet
      joinSols(cur, Sol(df, vs.toSet, mn))
    case SqMinus(g) =>
      // SPARQL §8.3: drop lhs rows for which SOME rhs solution is
      // compatible (equal on every var bound in both) AND shares at least
      // one bound variable; disjoint-domain rhs rows remove nothing. The
      // rhs evaluates in its own scope (seeded by the pre-bound frame, not
      // the lhs), then one distinct projection + anti-join does the rest.
      // Under a graph key both sides must be in the same graph, but the
      // hidden key is no shared variable: a disjoint rhs removes nothing.
      val lhs = withKey(cur, sc)
      val rhs = evalGroup(g, rootSeed, sc)
      val shared = lhs.vars.intersect(rhs.vars).filterNot(_.startsWith("__")).toSeq.sorted
      if (shared.isEmpty) lhs
      else {
        val cmp = shared ++ sc.key
        val r = rhs.df.select(cmp.map(v => col(v).as(s"__m_$v")): _*).distinct()
        val compat = cmp.map(v =>
          col(v).isNull || col(s"__m_$v").isNull || col(v) === col(s"__m_$v"))
        val overlap = shared.map(v => col(v).isNotNull && col(s"__m_$v").isNotNull)
        Sol(lhs.df.join(r, compat.reduce(_ && _) && overlap.reduce(_ || _), "left_anti"),
          lhs.vars, lhs.maybeNull)
      }
  }

  private var keyCounter = 0

  /** One row per named graph of the scope, `k` bound to the graph IRI —
    * the image of SPARQL's empty solution Z inside GRAPH ?x. */
  private def catalog(k: String, sc: Scope): Sol =
    Sol(sc.frame.select(iriT(col("g")).as(k)).distinct(), Set(k), Set.empty)

  /** `cur` with the scope's graph key bound: crossed with the catalog when
    * nothing has bound it yet. Identity outside GRAPH ?x. */
  private def withKey(cur: Sol, sc: Scope): Sol = sc.key match {
    case Some(k) if !cur.vars.contains(k) => joinSols(cur, catalog(k, sc))
    case _ => cur
  }

  /** [[withKey]], then the block's graph var `gv` bound to the key — or,
    * when a pattern or the outer solution already bound it, kept where it
    * is compatible with the key. */
  private def exposeGraph(cur: Sol, sc: Scope, gv: Option[String]): Sol =
    (sc.key, gv) match {
      case (Some(k), Some(x)) =>
        val s = withKey(cur, sc)
        if (!s.vars.contains(x)) Sol(s.df.withColumn(x, col(k)), s.vars + x, s.maybeNull)
        else Sol(s.df.filter(col(x).isNull || col(x) === col(k)).withColumn(x, col(k)),
          s.vars, s.maybeNull - x)
      case _ => withKey(cur, sc)
    }

  private def filterBy(cur: Sol, e: SqExpr, sc: Scope): Sol = e match {
    case EExists(g, neg) => existsFilter(cur, g, neg, sc)
    case ENot(EExists(g, neg)) => existsFilter(cur, g, !neg, sc)
    case _ if hasExists(e) || hasFullFn(e) =>
      // EXISTS / full-bodied function calls nested inside the expression:
      // materialize markers and result columns, filter, project them away
      val (e2, s2) = lift(e, cur, sc)
      val filtered = s2.df.filter(compileB(e2, s2) === true)
      Sol(filtered.select(cur.vars.toSeq.sorted.map(col): _*), cur.vars, cur.maybeNull)
    case _ => cur.copy(df = cur.df.filter(compileB(e, cur) === true))
  }

  /** Nested EXISTS markers, then full-bodied SHACLFunction result columns. */
  private def lift(e: SqExpr, cur: Sol, sc: Scope): (SqExpr, Sol) = {
    val (e1, s1) = if (hasExists(e)) liftExists(e, cur, sc) else (e, cur)
    if (hasFullFn(e1)) liftFnCalls(e1, s1, sc) else (e1, s1)
  }

  /** Align variable sets (missing vars -> NULL) and union. */
  private def unionSols(sols: Seq[Sol]): Sol = {
    if (sols.size == 1) return sols.head
    val allVars = sols.flatMap(_.vars).toSet
    val aligned = sols.map { s0 =>
      val df = allVars.diff(s0.vars).foldLeft(s0.df)((d, v) => d.withColumn(v, nullT))
      df.select(allVars.toSeq.sorted.map(col): _*)
    }
    val mn = sols.flatMap(_.maybeNull).toSet ++
      allVars.filter(v => sols.exists(s0 => !s0.vars.contains(v)))
    Sol(aligned.reduce(_ unionByName _), allVars, mn)
  }

  /** A sub-select or SELECT function body (evalSelect without clobbering
    * rootSeed). Under a graph key the projection keeps the key, OFFSET /
    * LIMIT slice per graph, and a global aggregate yields its empty-group
    * row for every graph without solutions. */
  private def subSelect(q: SqSelect, seed: Sol, keep: Set[String], sc: Scope): Sol =
    project(q, evalGroup(q.where, seed, sc), keep ++ sc.key, sliceBy = sc.key,
      fillEmpty = sc.key.map(k => catalog(k, sc).df))

  // ------------------------------------- full-bodied SHACLFunction calls
  private var fnCounter = 0

  private def hasFullFn(e: SqExpr): Boolean = e match {
    case EFnIri(iri, args) => fns.get(iri).exists(_.body.isRight) || args.exists(hasFullFn)
    case EBin(_, l, r) => hasFullFn(l) || hasFullFn(r)
    case ENot(x) => hasFullFn(x)
    case ENeg(x) => hasFullFn(x)
    case ECall(_, as) => as.exists(hasFullFn)
    case _ => false
  }

  /** Replace full-bodied SHACLFunction calls with computed columns: the
    * DISTINCT argument tuples seed ONE set-oriented evaluation of the
    * function's WHERE clause, and results join back by argument value — the
    * reference evaluates the body per call (shacl_function.py:283-326);
    * here a million calls over k distinct argument tuples cost one pass.
    * The body evaluates in the caller's scope; under a graph key the key
    * rides the argument-tuple seed and the join back, so the body's
    * patterns bind the caller's graph per row. */
  private def liftFnCalls(e: SqExpr, cur0: Sol, sc: Scope): (SqExpr, Sol) = {
    var cur = cur0
    def walk(e: SqExpr): SqExpr = e match {
      case EFnIri(iri, args0) =>
        val args = args0.map(walk)
        fns.get(iri).filter(_.body.isRight) match {
          case Some(defn) =>
            val (v, s2) = applyFn(defn, args.map(compileT(_, cur)), cur, sc)
            cur = s2
            EVar(v)
          case None => EFnIri(iri, args)
        }
      case EBin(op, l, r) => EBin(op, walk(l), walk(r))
      case ENot(x) => ENot(walk(x))
      case ENeg(x) => ENeg(walk(x))
      case ECall(f, as) => ECall(f, as.map(walk))
      case other => other
    }
    (walk(e), cur)
  }

  /** One SHACLFunction call on the argument columns `args` of `df` (the
    * rules engine's node expressions): `df` with the call's result attached,
    * and the result column. A compiled body is a projection; a full SPARQL
    * body evaluates as in [[liftFnCalls]], its argument tuples seeding the
    * body's sub-selects as a query's bindings would. */
  def callFn(defn: ShaclFnDef, df: DataFrame, args: List[Column]): (DataFrame, Column) =
    defn.body match {
      case Left(ast) => (df, compiledFn(defn.params, ast, args))
      case Right(_) =>
        val (v, s) = applyFn(defn, args, Sol(df, df.columns.toSet, Set.empty), dflt,
          asRoot = true)
        (s.df, col(v))
    }

  private def compiledFn(params: List[(String, String, Boolean)], ast: SparqlExpr.Ast,
                         args: List[Column]): Column = {
    val env = params.zip(args).map { case ((local, dt, _), c) =>
      local -> SparqlExpr.termToTyped(c, dt)
    }.toMap
    SparqlExpr.typedToTerm(SparqlExpr.compile(ast, env))
  }

  private def applyFn(defn: ShaclFnDef, args: List[Column], cur: Sol, sc: Scope,
                      asRoot: Boolean = false): (String, Sol) = {
    fnCounter += 1
    val resVar = s"__fnr$fnCounter"
    val paramNames = defn.params.map(_._1)
    val argNames = paramNames.map(p => s"__fna${fnCounter}_$p")
    var df = cur.df
    paramNames.zip(argNames).zip(args).foreach { case ((_, an), a) =>
      df = df.withColumn(an, a)
    }
    val groupKeys = paramNames ++ sc.key
    val seedDf = df.select(paramNames.zip(argNames).map { case (p, an) => col(an).as(p) } ++
      sc.key.map(col): _*).distinct()
    val seed = Sol(seedDf, groupKeys.toSet, Set.empty)
    if (asRoot) rootSeed = seed
    val resolved: DataFrame = defn.body.toOption.get match {
      case sel: SqSelect =>
        // with params the empty-group fill can't be keyed: an absent
        // (args, graph) group reads back as unbound via the left join below
        val res = subSelect(sel, seed, paramNames.toSet, sc)
        val resultVar = sel.proj.headOption match {
          case Some(PVar(x)) => x
          case Some(PExpr(_, as)) => as
          case _ => throw new ReportableError(
            s"SHACLFunction <${defn.iri.value}> SELECT body must project a result variable")
        }
        if (groupKeys.isEmpty) res.df.agg(first(col(resultVar), ignoreNulls = true).as(resVar))
        else res.df.groupBy(groupKeys.map(col): _*)
          .agg(first(col(resultVar), ignoreNulls = true).as(resVar))
      case ask: SqAsk =>
        // ASK per argument tuple (× graph under a key): matched tuples
        // -> true, else false
        val g = evalGroup(ask.where, seed, sc)
        val hits = g.df.select(groupKeys.map(col): _*).distinct()
          .withColumn("__hit", lit(1))
        seedDf.join(hits, groupKeys, "left")
          .select(groupKeys.map(col) :+ boolT(col("__hit").isNotNull).as(resVar): _*)
      case _ => throw new ReportableError(
        s"SHACLFunction <${defn.iri.value}> body must be a SELECT or ASK query")
    }
    val renamed = paramNames.zip(argNames).foldLeft(resolved) { case (d, (p, an)) =>
      d.withColumnRenamed(p, an)
    }
    val joinKeys = argNames ++ sc.key
    val joined =
      if (joinKeys.isEmpty) df.crossJoin(broadcast(renamed))
      else df.join(renamed, joinKeys, "left")
    (resVar, Sol(joined, cur.vars + resVar, cur.maybeNull))
  }

  // ---------------------------------------------------------- BGP joins
  private def hasExists(e: SqExpr): Boolean = e match {
    case EExists(_, _) => true
    case EBin(_, l, r) => hasExists(l) || hasExists(r)
    case ENot(x) => hasExists(x)
    case ENeg(x) => hasExists(x)
    case ECall(_, as) => as.exists(hasExists)
    case EFnIri(_, as) => as.exists(hasExists)
    case _ => false
  }

  /** Variables an expression references directly (EXISTS bodies excluded —
    * their correlation is the lift's job, not the caller's). */
  private def exprVars(e: SqExpr): Set[String] = e match {
    case EVar(x) => Set(x)
    case EBin(_, l, r) => exprVars(l) ++ exprVars(r)
    case ENot(x) => exprVars(x)
    case ENeg(x) => exprVars(x)
    case ECall(_, as) => as.flatMap(exprVars).toSet
    case EFnIri(_, as) => as.flatMap(exprVars).toSet
    case _ => Set.empty
  }

  /** One triple pattern in scope `sc`: constant positions filter, variable
    * positions project, and under a graph key the key binds from `g`. A
    * property path (incl. $PATH) walks from its bound side. */
  private def triplePattern(t: SqTriple, cur: Sol, sc: Scope): Sol = {
    t.p match {
      case PredShapePath =>
        return pathPattern(t, cur, shapePath.getOrElse(throw new ReportableError(
          "SPARQL Constraint text has $PATH in it, but no path is known on this Shape.")), sc)
      case PredPath(p) => return pathPattern(t, cur, p, sc)
      case _ =>
    }
    var base = sc.frame
    val sources = scala.collection.mutable.ListBuffer.empty[(String, Column)]
    sc.key.foreach(k => sources += k -> iriT(col("g")))
    t.s match {
      case TVar(x) => sources += x -> col("s")
      case TConst(n) => base = base.filter(col("s") === termLit(n))
    }
    t.p match {
      case PredIri(i) => base = base.filter(col("p") === i)
      case PredVar(x) =>
        sources += x -> iriT(col("p"))
      case _ => // paths handled above
    }
    t.o match {
      case TVar(x) => sources += x -> col("o")
      case TConst(n) => base = base.filter(col("o") === termLit(n))
    }
    // repeated variables inside one pattern: equality filter, keep first
    val grouped = sources.toList.groupBy(_._1)
    for ((_, cols) <- grouped if cols.size > 1)
      base = base.filter(
        cols.map(_._2).sliding(2).map(p => p.head === p(1)).reduce(_ && _))
    val out = grouped.map { case (x, cols) => cols.head._2.as(x) }.toSeq
    val vars = grouped.keySet
    if (out.isEmpty) {
      // fully-ground pattern: a 0-or-1-row existence frame — joining it in
      // filters the group naturally and stays LAZY (no compile-time action)
      Sol(base.limit(1).select(lit(1).as("__unit")), Set("__unit"), Set.empty)
    } else Sol(base.select(out: _*), vars, Set.empty)
  }

  /** Closure-free path → full (f, v) pairs frame straight off a triples
    * scan (no anchor needed); over a quads frame every pair keeps its
    * graph g and sequence joins stay within one graph. */
  private def pathPairs(p: PathIR, base: DataFrame): Option[DataFrame] = {
    val g = if (base.columns.contains("g")) Seq(col("g")) else Nil
    def pairs(d: DataFrame, f: String, v: String) =
      d.select(col(f).as("f") +: col(v).as("v") +: g: _*)
    p match {
      case PathIR.PPred(pred) => Some(pairs(base.filter(col("p") === pred), "s", "o"))
      case PathIR.PInv(inner) => pathPairs(inner, base).map(pairs(_, "v", "f"))
      case PathIR.PSeq(parts) =>
        parts.map(pathPairs(_, base)).reduce { (ao, bo) =>
          for (a <- ao; b <- bo) yield {
            val bb = b.select(col("f").as("_bf") +: col("v").as("_bv") +: g.map(_.as("_bg")): _*)
            val on = a("v") === bb("_bf")
            a.join(bb, if (g.isEmpty) on else on && a("g") === bb("_bg"))
              .select(a("f") +: col("_bv").as("v") +: g.map(_ => a("g")): _*)
          }
        }
      case PathIR.PAlt(alts) =>
        val ps = alts.map(pathPairs(_, base))
        if (ps.forall(_.isDefined)) Some(ps.flatten.reduce(_ unionByName _).distinct())
        else None
      case PathIR.PNegSet(fwd, inv) =>
        // negated property set: every triple whose predicate is NOT excluded,
        // forward for non-^ members and inverted for ^ members (SPARQL §9.1)
        def notIn(ex: List[String]) =
          if (ex.isEmpty) base else base.filter(!col("p").isin(ex: _*))
        val legs = fwd.map(ex => pairs(notIn(ex), "s", "o")).toSeq ++
          inv.map(ex => pairs(notIn(ex), "o", "s")).toSeq
        legs.reduceOption(_ unionByName _).map(_.distinct())
      case PathIR.POneOrMore(inner) =>
        // unanchored p+ (rdflib supports it): seed the closure with the inner
        // path's own pairs — it returns seed ∪ further steps, exactly the
        // >=1-application closure (one fixpoint for ALL graphs over quads)
        pathPairs(inner, base).map(seed =>
          PathEval.step(base, seed, PathIR.PZeroOrMore(inner), maxPathDepth))
      case _ => None // zero-length closures need an anchor
    }
  }

  /** `?s <path> ?o` — a property path evaluated from whichever side is
    * already bound (pySHACL lets rdflib walk it per focus; here the
    * engine's own path stepper runs from the bound anchor, which keeps
    * closure paths seeded and scale-safe). Unanchored closure-free paths
    * fall back to a full pairs scan. Under a graph key the frontier carries
    * the graph column, so a closure runs for every named graph in one
    * distributed pass, and the key binds from the g column of the result.
    * Returns the pattern's solutions; the caller joins them in. */
  private def pathPattern(t: SqTriple, cur: Sol, path: PathIR, sc: Scope): Sol = {
    val base = sc.frame
    val gOut = sc.key.map(k => iriT(col("g")).as(k)).toSeq
    val gVars = sc.key.toSet
    def boundSide(term: SqTerm): Boolean = term match {
      case TVar(x) => cur.vars.contains(x)
      case TConst(_) => true
    }
    val forward = boundSide(t.s)
    if (!forward && !boundSide(t.o)) {
      val pairs = pathPairs(path, base).getOrElse(throw new ReportableError(
        "a closure property path with neither side bound is not supported"))
      return (t.s, t.o) match {
        case (TVar(a), TVar(b)) =>
          Sol(pairs.select(col("f").as(a) +: col("v").as(b) +: gOut: _*), Set(a, b) ++ gVars,
            Set.empty)
        case _ => throw new ReportableError("unreachable: unanchored ground path")
      }
    }
    val (anchor, other, p) =
      if (forward) (t.s, t.o, path) else (t.o, t.s, PathIR.invert(path))
    val anchorVals = anchor match {
      case TVar(x) => cur.df.select(col(x).as("f")).filter(col("f").isNotNull).distinct()
      case TConst(n) => spark.range(1).select(termLit(n).as("f"))
    }
    val res = (sc.key match {
      case None if base eq T => pathStep(anchorVals.select(col("f"), col("f").as("v")), p)
      // inside a GRAPH block, paths walk the active (shapes / named) frame
      case None =>
        PathEval.step(base, anchorVals.select(col("f"), col("f").as("v")), p, maxPathDepth)
      case Some(k) =>
        // frontier graph column: from the bound key when available (anchor
        // and graph stay paired), else every named graph via a distributed
        // cross join against the distinct-graph catalog — correct for any
        // element order; queries that bind the graph with a plain pattern
        // first take the cheap paired branch
        val frontier = anchor match {
          case TVar(a) if cur.vars.contains(k) =>
            cur.df.filter(col(k).isNotNull && col(a).isNotNull)
              .select(col(a).as("f"), col(k)("v").as("g")).distinct()
              .select(col("f"), col("f").as("v"), col("g"))
          case _ if cur.vars.contains(k) =>
            cur.df.filter(col(k).isNotNull).select(col(k)("v").as("g")).distinct()
              .crossJoin(anchorVals).select(col("f"), col("f").as("v"), col("g"))
          case _ =>
            anchorVals.crossJoin(base.select(col("g")).distinct())
              .select(col("f"), col("f").as("v"), col("g"))
        }
        PathEval.step(base, frontier, p, maxPathDepth)
    }).distinct()
    val (df, vars) = (anchor, other) match {
      case (TVar(a), TVar(o)) =>
        (res.select(col("f").as(a) +: col("v").as(o) +: gOut: _*), Set(a, o) ++ gVars)
      case (TVar(a), TConst(n)) =>
        (res.filter(col("v") === termLit(n)).select(col("f").as(a) +: gOut: _*), Set(a) ++ gVars)
      case (TConst(_), TVar(o)) => (res.select(col("v").as(o) +: gOut: _*), Set(o) ++ gVars)
      case (TConst(_), TConst(n)) if sc.key.isEmpty =>
        (res.filter(col("v") === termLit(n)).limit(1).select(lit(1).as("__unit")),
          Set("__unit"))
      case (TConst(_), TConst(n)) =>
        (res.filter(col("v") === termLit(n)).select(gOut: _*).distinct(), gVars)
    }
    Sol(df, vars, Set.empty)
  }

  private def joinSols(a: Sol, b: Sol): Sol = {
    val shared = a.vars.intersect(b.vars)
    val bdf = b.vars.foldLeft(b.df)((d, c) => d.withColumnRenamed(c, "__b_" + c))
    val joined =
      if (shared.isEmpty) a.df.crossJoin(bdf)
      else {
        val cond = shared.toSeq.sorted.map { x =>
          val l = a.df(x); val r = bdf("__b_" + x)
          if (a.maybeNull.contains(x) || b.maybeNull.contains(x))
            l.isNull || r.isNull || l === r
          else l === r
        }.reduce(_ && _)
        a.df.join(bdf, cond)
      }
    val outCols =
      a.vars.toSeq.sorted.map { x =>
        if (shared.contains(x) && (a.maybeNull.contains(x) || b.maybeNull.contains(x)))
          coalesce(col(x), col("__b_" + x)).as(x)
        else col(x)
      } ++ b.vars.diff(a.vars).toSeq.sorted.map(x => col("__b_" + x).as(x))
    Sol(joined.select(outCols: _*), a.vars ++ b.vars,
      (a.maybeNull ++ b.maybeNull).diff(shared.filterNot(x =>
        a.maybeNull.contains(x) && b.maybeNull.contains(x))))
  }

  /** EXISTS/OPTIONAL correlation without a minted row id: the sub-group is
    * seeded with the DISTINCT binding tuples of `cur`, each carrying its
    * original values under reserved `__k_` names (evaluation may null-fill
    * a maybe-null var, so the coalesced output columns cannot serve as the
    * correlation key). Results join back null-safely on those keys. A
    * minted monotonically_increasing_id forced a localCheckpoint
    * materialization barrier per clause — SPARQL solutions are multisets
    * whose duplicates carry identical bindings, so binding-tuple identity
    * is equivalent and keeps the whole query one lazy plan. */
  private def keyedSeed(cur: Sol): (Seq[String], Sol) = {
    val varsS = cur.vars.toSeq.sorted
    val seedDf = cur.df
      .select(varsS.map(col) ++ varsS.map(x => col(x).as("__k_" + x)): _*)
      .distinct()
    (varsS, Sol(seedDf, cur.vars ++ varsS.map("__k_" + _), cur.maybeNull))
  }

  private def keyCond(l: DataFrame, r: DataFrame, varsS: Seq[String]): Column =
    varsS.map(x => l(x) <=> r("__x_" + x)).reduceOption(_ && _).getOrElse(lit(true))

  /** Materialize every EXISTS inside an EXPRESSION (`EXISTS{} || …`,
    * `IF(EXISTS{}, …)`, `BIND(EXISTS{} AS ?b)`) as a correlated boolean
    * TERM column on `cur` — the same keyedSeed correlation the top-level
    * EXISTS filter uses, but as a left join + hit flag so the row survives
    * either way and the expression reads true/false — rewriting each
    * EExists node to a reference to its marker var. The caller evaluates
    * the rewritten expression, then projects the `__ex_*` markers away.
    * This is SPARQL's EXISTS-anywhere-in-an-expression. */
  private def liftExists(e: SqExpr, cur: Sol, sc: Scope): (SqExpr, Sol) = {
    var acc = cur
    var n = acc.df.columns.count(_.startsWith("__ex_"))
    def walk(x: SqExpr): SqExpr = x match {
      case EExists(g, neg) =>
        val name = s"__ex_$n"; n += 1
        // correlate on the ORIGINAL vars, not acc.vars: earlier markers
        // are functionally dependent on them — carrying marker structs
        // through the seed distinct and join keys is pure width
        val (varsS, seed) = keyedSeed(Sol(acc.df, cur.vars, acc.maybeNull))
        val sub = evalGroup(g, seed, sc)
        val hits = sub.df.select(varsS.map(v => col("__k_" + v).as("__x_" + v)): _*)
          .distinct().withColumn("__hit", lit(true))
        val flag = coalesce(col("__hit"), lit(false))
        val joined = acc.df.join(hits, keyCond(acc.df, hits, varsS), "left")
          .withColumn(name, boolT(if (neg) !flag else flag))
          .drop("__hit" +: varsS.map("__x_" + _): _*)
        acc = Sol(joined, acc.vars + name, acc.maybeNull)
        EVar(name)
      case EBin(op, l, r) => EBin(op, walk(l), walk(r))
      case ENot(y) => ENot(walk(y))
      case ENeg(y) => ENeg(walk(y))
      case ECall(f, args) => ECall(f, args.map(walk))
      case EFnIri(f, args) => EFnIri(f, args.map(walk))
      case other => other
    }
    (walk(e), acc)
  }

  /** FILTER (NOT) EXISTS as a semi/anti join: the body is correlated on
    * EVERY current variable — the graph key included, so under GRAPH ?g
    * the join is per graph (keyedSeed copies them all into the __k_ join
    * key). */
  private def existsFilter(cur: Sol, g: SqGroup, negated: Boolean, sc: Scope): Sol = {
    val (varsS, seed) = keyedSeed(cur)
    val sub = evalGroup(g, seed, sc)
    val hits = sub.df.select(varsS.map(x => col("__k_" + x).as("__x_" + x)): _*).distinct()
    val joined = cur.df.join(hits, keyCond(cur.df, hits, varsS),
      if (negated) "left_anti" else "left_semi")
    Sol(joined, cur.vars, cur.maybeNull)
  }

  /** OPTIONAL as matched ∪ unmatched rows of the keyedSeed correlation
    * (under a graph key the key is part of it, so matches stay in the
    * row's graph). */
  private def optionalJoin(cur: Sol, g: SqGroup, sc: Scope): Sol = {
    val (varsS, seed) = keyedSeed(cur)
    val sub = evalGroup(g, seed, sc)
    val newVars = sub.vars.diff(seed.vars)
    val outVars = (cur.vars ++ newVars).toSeq.sorted
    // sub side: coalesced solution values under __v_, original keys under __x_
    val subR = sub.df.select(
      outVars.map(x => col(x).as("__v_" + x)) ++
        varsS.map(x => col("__k_" + x).as("__x_" + x)): _*)
    val matched = cur.df.join(subR, keyCond(cur.df, subR, varsS))
      .select(outVars.map(x => col("__v_" + x).as(x)): _*)
    val hits = subR.select(varsS.map(x => col("__x_" + x)): _*).distinct()
    val unmatched0 = cur.df.join(hits, keyCond(cur.df, hits, varsS), "left_anti")
    val unmatched = newVars.foldLeft(unmatched0)((d, v) => d.withColumn(v, nullT))
      .select(outVars.map(col): _*)
    Sol(matched.unionByName(unmatched), cur.vars ++ newVars, cur.maybeNull ++ newVars)
  }

  // ------------------------------------------------------- expressions
  /** Boolean-valued compilation: the &&/||/!/comparison skeleton stays in
    * native Boolean columns. Round-tripping every sub-expression through a
    * term struct (boolT∘ebv) re-expands the child ~10× per nesting level —
    * enough to blow whole-stage codegen past Janino's 64KB method limit on
    * 3-level filters — so the skeleton never materializes structs. */
  def compileB(e: SqExpr, cur: Sol): Column = e match {
    case ENot(inner) =>
      val b = compileB(inner, cur)
      when(b.isNull, nullB).otherwise(!b)
    case EBin("&&", l, r) => compileB(l, cur) && compileB(r, cur)
    case EBin("||", l, r) => compileB(l, cur) || compileB(r, cur)
    case EBin("=", l, r) => eqC(compileT(l, cur), compileT(r, cur))
    case EBin("!=", l, r) =>
      val q = eqC(compileT(l, cur), compileT(r, cur))
      when(q.isNull, nullB).otherwise(!q)
    case EBin(op @ ("<" | "<=" | ">" | ">="), l, r) =>
      val c = cmpC(compileT(l, cur), compileT(r, cur))
      op match { case "<" => c < 0; case "<=" => c <= 0; case ">" => c > 0; case ">=" => c >= 0 }
    case ECall("BOUND", List(EVar(x))) =>
      if (x == "shapesGraph") lit(shapesT.isDefined)
      else if (cur.vars.contains(x)) col(x).isNotNull else lit(false)
    case ECall("ISLITERAL", List(a)) => kindIsB(compileT(a, cur), 2)
    case ECall("ISIRI", List(a)) => kindIsB(compileT(a, cur), 0)
    case ECall("ISURI", List(a)) => kindIsB(compileT(a, cur), 0)
    case ECall("ISBLANK", List(a)) => kindIsB(compileT(a, cur), 1)
    case ECall("SAMETERM", List(a, b)) =>
      termKey(compileT(a, cur)) === termKey(compileT(b, cur))
    case ECall("LANGMATCHES", args) => langMatchesB(args, cur)
    case ECall("REGEX", args) => regexB(args, cur)
    case ECall(fn @ ("STRSTARTS" | "STRENDS" | "CONTAINS"), List(x, y)) =>
      str2B(fn, compileT(x, cur), compileT(y, cur))
    case ECall("ISNUMERIC", List(a)) =>
      val t = compileT(a, cur)
      when(t.isNull, nullB)
        .otherwise(t("k") === 2 && t("dt").isin(XSD.numericTypes.toSeq: _*))
    case other => ebv(compileT(other, cur))
  }

  /** Two-arg string test (SPARQL 17.4.3 argument compatibility): both
    * literals; arg2 plain or sharing arg1's language tag; NULL = error. */
  private def str2B(fn: String, l: Column, r: Column): Column = {
    val bad = l.isNull || r.isNull || l("k") =!= 2 || r("k") =!= 2 ||
      (r("lang") =!= "" && r("lang") =!= l("lang"))
    val res = fn match {
      case "STRSTARTS" => l("v").startsWith(r("v"))
      case "STRENDS" => l("v").endsWith(r("v"))
      case "CONTAINS" => l("v").contains(r("v"))
    }
    when(bad, nullB).otherwise(res)
  }

  /** Compile an expression to a term-struct Column (NULL = SPARQL error /
    * unbound). */
  def compileT(e: SqExpr, cur: Sol): Column = e match {
    case EVar(x) => if (cur.vars.contains(x)) col(x) else nullT
    case EConst(n) => termLit(n)
    case ENot(_) | EBin("&&" | "||" | "=" | "!=" | "<" | "<=" | ">" | ">=", _, _) =>
      boolT(compileB(e, cur))
    case ENeg(inner) => numToTerm(-num(compileT(inner, cur)))
    case EBin(op, l, r) =>
      val x = num(compileT(l, cur)); val y = num(compileT(r, cur))
      numToTerm(op match {
        case "+" => x + y; case "-" => x - y; case "*" => x * y; case "/" => x / y
      })
    case ECall(fn, args) => builtin(fn, args, cur)
    case EFnIri(iri, args) =>
      val defn = fns.getOrElse(iri, throw new ReportableError(
        s"The SHACLFunction <$iri> was not defined in this SHACL Shapes file."))
      defn.body match {
        case Left(ast) => compiledFn(defn.params, ast, args.map(compileT(_, cur)))
        case Right(_) => throw new ReportableError(
          s"The SHACLFunction <$iri> has a full SPARQL body; calls are supported " +
            "in FILTER and BIND position (where they evaluate set-oriented).")
      }
    case EExists(_, _) =>
      // FILTER and BIND positions materialize EXISTS via liftExists before
      // compiling; reaching here means an unsupported position (ORDER BY /
      // HAVING / SELECT expressions)
      throw new ReportableError(
        "EXISTS is supported in FILTER and BIND expressions, not here")
  }

  private def langMatchesB(args: List[SqExpr], cur: Sol): Column = {
    val tg = compileT(args(0), cur); val rg = compileT(args(1), cur)
    val tag = lower(tg("v")); val rng = lower(rg("v"))
    when(tg.isNull || rg.isNull || tg("k") =!= 2 || rg("k") =!= 2, nullB)
      .otherwise(when(rng === "*", tag =!= "")
        .otherwise(tag === rng || tag.startsWith(concat(rng, lit("-")))))
  }

  /** XPath regex flags -> a Java-regex pattern prefix + possible literal
    * quoting: i/m/s/x map to inline flags, q means match the pattern
    * literally (Pattern.quote); anything else is an error, not a silent
    * semantic change. */
  private def applyFlags(pat: String, flags: Option[String]): String = flags match {
    case None => RegexDialect.pythonToJava(pat)
    case Some(f) =>
      val bad = f.filterNot("imsxq".contains(_))
      if (bad.nonEmpty)
        throw new ReportableError(s"unsupported regex flag(s) '$bad' (supported: i m s x q)")
      val body =
        if (f.contains('q')) java.util.regex.Pattern.quote(pat)
        else RegexDialect.pythonToJava(pat)
      val inline = f.filter(c => "imsx".contains(c) )
      (if (inline.nonEmpty) s"(?$inline)" else "") + body
  }

  private def regexB(args: List[SqExpr], cur: Sol): Column = {
    val t = compileT(args(0), cur)
    val pat = args(1) match {
      case EConst(Lit(p, _, _)) => p
      case _ => throw new ReportableError("regex() pattern must be a constant")
    }
    val flags = args.drop(2).headOption.collect { case EConst(Lit(f, _, _)) => f }
    when(t.isNull || t("k") =!= 2, nullB)
      .otherwise(t("v").rlike(applyFlags(pat, flags)))
  }

  private def kindIsB(t: Column, k: Int): Column =
    when(t.isNull, nullB).otherwise(t("k") === k)

  private def builtin(fn: String, args: List[SqExpr], cur: Sol): Column = {
    def a(i: Int): Column = compileT(args(i), cur)
    /** literal-preserving result: same dt/lang as the source term. */
    def keepLit(t: Column, v: Column): Column =
      struct(v.as("v"), lit(2.toByte).as("k"), t("dt").as("dt"), t("lang").as("lang"))
    /** guard: NULL unless the term is a literal. */
    def onLit(t: Column, r: Column): Column =
      when(t.isNull || t("k") =!= 2, nullT).otherwise(r)
    /** constant string argument (patterns/replacements must be constants to
      * stay inside codegen'd regexp expressions). */
    def constStr(i: Int, what: String): String = args(i) match {
      case EConst(Lit(p, _, _)) => p
      case _ => throw new ReportableError(s"$fn() $what must be a constant")
    }
    // xsd:date/dateTime lexical form; groups 1-7 = Y M D h m s tz
    val dtPat = "^(-?\\d{4,})-(\\d{2})-(\\d{2})" +
      "(?:T(\\d{2}):(\\d{2}):(\\d{2}(?:\\.\\d+)?))?(Z|[+-]\\d{2}:\\d{2})?$"
    fn match {
      case "BOUND" | "LANGMATCHES" | "REGEX" | "SAMETERM" |
           "ISLITERAL" | "ISIRI" | "ISURI" | "ISBLANK" |
           "STRSTARTS" | "STRENDS" | "CONTAINS" | "ISNUMERIC" =>
        boolT(compileB(ECall(fn, args), cur))
      case "SUBSTR" =>
        // XPath fn:substring: 1-based window [start, start+len); zero or
        // negative starts clip from position 1 (Spark's substr would count
        // negatives from the END of the string)
        val t = a(0)
        val start = num(a(1)).cast("int")
        val begin = greatest(start, lit(1))
        val effLen =
          if (args.size > 2) greatest(start + num(a(2)).cast("int") - begin, lit(0))
          else length(t("v")) + 1
        onLit(t, when(start.isNull || effLen.isNull, nullT)
          .otherwise(keepLit(t, t("v").substr(begin, effLen))))
      case "REPLACE" =>
        val t = a(0)
        val pat = constStr(1, "pattern")
        val repl = constStr(2, "replacement")
        val flags = args.drop(3).headOption.collect { case EConst(Lit(f, _, _)) => f }
        onLit(t, keepLit(t, regexp_replace(t("v"), applyFlags(pat, flags), repl)))
      case "STRBEFORE" | "STRAFTER" =>
        val l = a(0); val r = a(1)
        val bad = l.isNull || r.isNull || l("k") =!= 2 || r("k") =!= 2 ||
          (r("lang") =!= "" && r("lang") =!= l("lang"))
        val pos = instr(l("v"), r("v")) // 1-based; 0 when absent
        val hit =
          if (fn == "STRBEFORE") l("v").substr(lit(1), pos - 1)
          else l("v").substr(pos + length(r("v")), length(l("v")))
        // empty needle: BEFORE -> "", AFTER -> whole input (lang preserved);
        // no match -> plain "" (SPARQL 17.4.3.4)
        when(bad, nullT)
          .when(r("v") === "", keepLit(l, if (fn == "STRBEFORE") lit("") else l("v")))
          .when(pos > 0, keepLit(l, hit))
          .otherwise(strT(lit("")))
      case "IRI" | "URI" =>
        val t = a(0)
        when(t.isNull || t("k") === 1, nullT)
          .otherwise(struct(t("v").as("v"), lit(0.toByte).as("k"),
            lit("").as("dt"), lit("").as("lang")))
      case "BNODE" =>
        // BNODE(str): same bnode for the same argument WITHIN one solution
        // row, distinct across rows (SPARQL 17.4.2.9). The row component is
        // a hash of the full visible binding tuple — deterministic across
        // task retries and repeated runs of the same query (a recomputed
        // partition mints the same labels), unlike
        // monotonically_increasing_id. Duplicate solution rows share a
        // label; SPARQL permits any fresh-bnode choice, and duplicates
        // carry identical bindings anyway.
        val v =
          if (args.isEmpty) concat(lit("genid-sparql-"), expr("uuid()"))
          else {
            val rowKey = xxhash64(cur.vars.toSeq.sorted.map(col): _*).cast("string")
            concat(lit("genid-sparql-"), md5(concat(a(0)("v"), lit("@"), rowKey)))
          }
        struct(v.as("v"), lit(1.toByte).as("k"), lit("").as("dt"), lit("").as("lang"))
      case "STRDT" =>
        val t = a(0); val dt = a(1)
        when(t.isNull || t("k") =!= 2 || dt.isNull || dt("k") =!= 0, nullT)
          .otherwise(struct(t("v").as("v"), lit(2.toByte).as("k"),
            dt("v").as("dt"), lit("").as("lang")))
      case "STRLANG" =>
        val t = a(0); val lg = a(1)
        when(t.isNull || t("k") =!= 2 || lg.isNull || lg("k") =!= 2, nullT)
          .otherwise(struct(t("v").as("v"), lit(2.toByte).as("k"),
            lit("").as("dt"), lower(lg("v")).as("lang")))
      case "ROUND" =>
        // XPath fn:round: .5 rounds toward positive infinity (not HALF_UP)
        numToTerm(floor(num(a(0)) + 0.5).cast("decimal(38,10)"))
      case "CEIL" => numToTerm(ceil(num(a(0))).cast("decimal(38,10)"))
      case "FLOOR" => numToTerm(floor(num(a(0))).cast("decimal(38,10)"))
      case "YEAR" | "MONTH" | "DAY" | "HOURS" | "MINUTES" | "SECONDS" =>
        val t = a(0)
        val idx = Map("YEAR" -> 1, "MONTH" -> 2, "DAY" -> 3,
          "HOURS" -> 4, "MINUTES" -> 5, "SECONDS" -> 6)(fn)
        val g = regexp_extract(t("v"), dtPat, idx)
        numToTerm(when(t.isNull || t("k") =!= 2 || g === "",
          lit(null).cast("decimal(38,10)")).otherwise(g.cast("decimal(38,10)")))
      case "TZ" =>
        val t = a(0)
        onLit(t, strT(regexp_extract(t("v"), dtPat, 7)))
      case "TIMEZONE" =>
        val t = a(0)
        val tz = regexp_extract(t("v"), dtPat, 7)
        val h = regexp_extract(tz, "^[+-]0*(\\d+):(\\d{2})$", 1).cast("int")
        val m = regexp_extract(tz, "^[+-]0*(\\d+):(\\d{2})$", 2).cast("int")
        // canonical xsd:dayTimeDuration: zero components are omitted
        // ("-PT5H", "PT30M"); the all-zero offset is "PT0S"
        val dur = when(tz === "Z" || (h === 0 && m === 0), lit("PT0S"))
          .otherwise(concat(when(tz.startsWith("-"), "-").otherwise(""), lit("PT"),
            when(h > 0, concat(h.cast("string"), lit("H"))).otherwise(lit("")),
            when(m > 0, concat(m.cast("string"), lit("M"))).otherwise(lit(""))))
        when(t.isNull || t("k") =!= 2 || tz === "", nullT)
          .otherwise(struct(dur.as("v"), lit(2.toByte).as("k"),
            lit(XSD.ns + "dayTimeDuration").as("dt"), lit("").as("lang")))
      case "MD5" => val t = a(0); onLit(t, strT(md5(t("v"))))
      case "SHA1" => val t = a(0); onLit(t, strT(sha1(t("v"))))
      case "SHA256" => val t = a(0); onLit(t, strT(sha2(t("v"), 256)))
      case "SHA384" => val t = a(0); onLit(t, strT(sha2(t("v"), 384)))
      case "SHA512" => val t = a(0); onLit(t, strT(sha2(t("v"), 512)))
      case "ENCODE_FOR_URI" =>
        val t = a(0)
        // RFC 3986 percent-encoding from url_encode's form-encoding: '+' is
        // %20, '*' must be escaped, '~' must not be
        val e = regexp_replace(regexp_replace(regexp_replace(
          url_encode(t("v")), "\\+", "%20"), "\\*", "%2A"), "%7E", "~")
        onLit(t, strT(e))
      case "UUID" =>
        struct(concat(lit("urn:uuid:"), expr("uuid()")).as("v"),
          lit(0.toByte).as("k"), lit("").as("dt"), lit("").as("lang"))
      case "STRUUID" => strT(expr("uuid()"))
      case "LANG" =>
        val t = a(0)
        when(t.isNull || t("k") =!= 2, nullT).otherwise(strT(t("lang")))
      case "DATATYPE" =>
        val t = a(0)
        when(t.isNull || t("k") =!= 2, nullT).otherwise(struct(
          when(t("lang") =!= "", RDF.langString)
            .when(t("dt") === "", XSD.string).otherwise(t("dt")).as("v"),
          lit(0.toByte).as("k"), lit("").as("dt"), lit("").as("lang")))
      case "STR" =>
        val t = a(0)
        when(t.isNull || t("k") === 1, nullT).otherwise(strT(t("v")))
      case "STRLEN" =>
        val t = a(0)
        numToTerm(when(t.isNull || t("k") =!= 2, lit(null).cast("decimal(38,10)"))
          .otherwise(length(t("v")).cast("decimal(38,10)")))
      case "UCASE" | "LCASE" =>
        val t = a(0)
        val v = if (fn == "UCASE") upper(t("v")) else lower(t("v"))
        when(t.isNull || t("k") =!= 2, nullT)
          .otherwise(struct(v.as("v"), lit(2.toByte).as("k"), t("dt").as("dt"), t("lang").as("lang")))
      case "CONCAT" =>
        val ts = args.map(compileT(_, cur))
        val bad = ts.map(t => t.isNull || t("k") =!= 2).reduce(_ || _)
        when(bad, nullT).otherwise(strT(concat(ts.map(_("v")): _*)))
      case "COALESCE" => coalesce(args.map(compileT(_, cur)): _*)
      case "IF" =>
        val c = compileB(args(0), cur)
        when(c.isNull, nullT).when(c, a(1)).otherwise(a(2))
      case "ABS" => numToTerm(abs(num(a(0))))
      case other => throw new ReportableError(s"unsupported SPARQL function $other()")
    }
  }

  private def strT(c: Column): Column =
    struct(c.as("v"), lit(2.toByte).as("k"), lit("").as("dt"), lit("").as("lang"))

  /** IRI term struct from a plain string column — THE encoding every
    * graph/predicate variable binding uses; the graph catalog joins
    * against pattern-bound graph keys, so all sites must share it. */
  private def iriT(c: Column): Column =
    struct(c.as("v"), lit(0.toByte).as("k"), lit("").as("dt"), lit("").as("lang"))

  private def boolT(b: Column): Column =
    when(b.isNull, nullT).otherwise(struct(
      when(b, "true").otherwise("false").as("v"), lit(2.toByte).as("k"),
      lit(XSD.boolean).as("dt"), lit("").as("lang")))

  private def num(t: Column): Column =
    when(t.isNull || t("k") =!= 2 ||
      !t("dt").isin(XSD.numericTypes.toSeq: _*), lit(null).cast("decimal(38,10)"))
      .otherwise(t("v").cast("decimal(38,10)"))

  private def numToTerm(d: Column): Column =
    when(d.isNull, nullT).otherwise {
      val isWhole = d === d.cast("decimal(38,0)").cast("decimal(38,10)")
      struct(
        when(isWhole, d.cast("decimal(38,0)").cast("string"))
          .otherwise(d.cast("double").cast("string")).as("v"),
        lit(2.toByte).as("k"),
        when(isWhole, XSD.integer).otherwise(XSD.decimal).as("dt"),
        lit("").as("lang"))
    }

  /** SPARQL effective boolean value; NULL on error (rdflib EBV). */
  def ebv(t: Column): Column =
    when(t.isNull || t("k") =!= 2, nullB)
      .when(t("dt") === XSD.boolean,
        when(t("v").isin("true", "1"), lit(true))
          .when(t("v").isin("false", "0"), lit(false)).otherwise(nullB))
      .when(t("dt").isin(XSD.numericTypes.toSeq: _*), t("v").cast("double") =!= 0.0)
      .when(t("dt") === "" || t("dt") === XSD.string || t("lang") =!= "",
        length(t("v")) > 0)
      .otherwise(nullB)

  /** SPARQL `=`: term equality, with value equality within comparable
    * literal families (rdfutil/compare.py:179-203); NULL on incomparable. */
  private def eqC(a: Column, b: Column): Column =
    when(a.isNull || b.isNull, nullB)
      .when(termKey(a) === termKey(b), lit(true))
      .when(a("k") === 2 && b("k") === 2, cmpC(a, b) === 0)
      .otherwise(lit(false))

  /** SPARQL-order comparison. Numeric-vs-numeric takes a pure-Catalyst
    * fast path (stays inside whole-stage codegen; the scalar UDF only
    * handles the mixed/temporal/string tail). */
  private def cmpC(a: Column, b: Column): Column = {
    val an = num(a); val bn = num(b)
    when(an.isNotNull && bn.isNotNull,
      when(an < bn, -1).when(an === bn, 0).otherwise(1))
      .otherwise(callUDF("rdf_cmp", a("v"), a("k"), a("dt"), a("lang"), b("v"), b("dt"), b("lang")))
  }
}
