package graft.tools

import graft.rdf._
import graft.shacl._

/** Rules-expansion CLI, pyshacl_rules-shaped
  * (/root/reference/pyshacl/entrypoints.py:362-472): prints the expanded
  * graph as N-Triples (input + rule-derived triples).
  *
  * Usage: runMain graft.tools.RulesCli <data.ttl> [shapes.ttl] [--iterate] [--rdfs]
  */
object RulesCli {
  def main(args: Array[String]): Unit = {
    if (args.isEmpty) { System.err.println("usage: RulesCli <data.ttl> [shapes.ttl] [--iterate] [--rdfs]"); sys.exit(2) }
    val pos = args.filterNot(_.startsWith("--")).toList
    val spark = Sessions.local("graft-rules")
    try {
      val dataG = GraphLoader.parseFile(pos.head) // format-sniffing loader
      val shapesG = pos.lift(1).map(GraphLoader.parseFile(_, bnodePrefix = "s")).getOrElse(dataG)
      var df = TriplesDF.fromMemGraph(spark, dataG)
      if (args.contains("--rdfs")) df = RdfsInference.expand(spark, df)
      val out = RulesEngine.expand(spark, df, shapesG, iterateRules = args.contains("--iterate"))
      val g = MemGraph(TriplesDF.collectTriples(out))
      println(NTriplesWriter.write(g))
      System.err.println(s"# expanded: ${dataG.size} -> ${g.size} triples")
      spark.stop()
    } catch {
      case e: Throwable =>
        System.err.println(s"error: ${e.getMessage}"); spark.stop(); sys.exit(2)
    }
  }
}
