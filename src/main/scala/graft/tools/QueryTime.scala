package graft.tools

/** Times individual registry queries without a full Bench pass. Each query
  * is timed writing every column of its result to Spark's `noop` sink (a
  * `count()` would let Catalyst prune the projected columns and skip their
  * work); `rows` comes from a count outside the timed region.
  * Usage: runMain graft.tools.QueryTime <sfDir> <name> [name...] */
object QueryTime {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.drop(1).toSeq else graft.Queries.all.keys.toSeq.sorted
    val spark = Sessions.local("graft-query-time")
    for (n <- names) {
      val t0 = System.nanoTime()
      val df = graft.Queries.all(n)(spark, dir)
      df.write.format("noop").mode("overwrite").save()
      val secs = (System.nanoTime() - t0) / 1e9
      println(f"$n%-28s $secs%8.2f s  rows=${df.count()}")
    }
    spark.stop()
  }
}
