package graft.tools

/** Times individual registry queries without a full Bench pass.
  * Usage: runMain graft.tools.QueryTime <sfDir> <name> [name...] */
object QueryTime {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.drop(1).toSeq else graft.Queries.all.keys.toSeq.sorted
    val spark = Sessions.local("graft-query-time")
    for (n <- names) {
      val t0 = System.nanoTime()
      val rows = graft.Queries.all(n)(spark, dir).count()
      println(f"$n%-28s ${(System.nanoTime() - t0) / 1e9}%8.2f s  rows=$rows")
    }
    spark.stop()
  }
}
