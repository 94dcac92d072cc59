package graft.shacl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Property-path stepping (expression_helper.py:31-155): the frontier has
  * columns (f, v) and each step joins v against the triples frame `T`.
  *
  * Over a quads frame the frontier carries (f, v, g) and every step also
  * joins on the graph column, so one evaluation, closures included, walks
  * every named graph at once, scoped per graph: `GRAPH ?g { ?s ex:p+ ?o }`
  * compiles to one fixed-size plan instead of a per-graph driver loop.
  * Closures run on the [[Closure]] kernel, capped at `maxDepth` steps;
  * `track` sees the checkpoints they mint. */
object PathEval {
  import PathIR._

  def step(T: DataFrame, frontier: DataFrame, path: PathIR, maxDepth: Int = 100,
           track: DataFrame => DataFrame = identity): DataFrame = {
    def walk(from: DataFrame, p: PathIR) = step(T, from, p, maxDepth, track)
    val g: Seq[Column] = if (frontier.columns.contains("g")) Seq(col("g")) else Nil
    // one hop over `edges`: s -> o, or o -> s when inverse
    def hop(edges: DataFrame, inverse: Boolean): DataFrame = {
      val (from, to) = if (inverse) ("o", "s") else ("s", "o")
      val e = edges.select(col(from).as("_from") +: col(to).as("_to") +: g.map(_.as("_g")): _*)
      val on = frontier("v") === e("_from")
      frontier.join(e, if (g.isEmpty) on else on && frontier("g") === e("_g"))
        .select(frontier("f") +: e("_to").as("v") +: g.map(_ => frontier("g")): _*)
    }
    def closure(seed: DataFrame, inner: PathIR) =
      Closure(seed, maxDepth,
        "Property path closure (cap: ValidationOptions.maxPathDepth)", track) {
        (f, _) => walk(f, inner).distinct()
      }
    path match {
      case PPred(p) => hop(T.filter(col("p") === p), inverse = false)
      case PInv(PPred(p)) => hop(T.filter(col("p") === p), inverse = true)
      case PInv(inner) =>
        // walk the INVERSE of inner: invert(PInv(inner)) would reduce back
        // to inner (double inversion) and walk it forward
        walk(frontier, PathIR.invert(inner))
      case PSeq(parts) => parts.foldLeft(frontier)(walk)
      case PAlt(alts) => alts.map(walk(frontier, _)).reduce(_ unionByName _).distinct()
      case PZeroOrOne(inner) => frontier.unionByName(walk(frontier, inner)).distinct()
      case PZeroOrMore(inner) => closure(frontier.distinct(), inner)
      case POneOrMore(inner) => closure(walk(frontier, inner).distinct(), inner)
      case PNegSet(fwd, inv) =>
        // negated property set (SPARQL §9.1): forward edges excluding the
        // non-^ members, inverse edges excluding the ^ members
        def notIn(ex: List[String]) = if (ex.isEmpty) T else T.filter(!col("p").isin(ex: _*))
        val legs = fwd.map(ex => hop(notIn(ex), inverse = false)).toSeq ++
          inv.map(ex => hop(notIn(ex), inverse = true)).toSeq
        if (legs.isEmpty) frontier.limit(0) else legs.reduce(_ unionByName _).distinct()
    }
  }
}
