package graft.tools

import org.apache.spark.sql.functions._

/** Pure-CPU scaling probe: iterated hashing, negligible memory traffic.
  * Usage: SPARK_GRAFT_CPUS=<n> runMain graft.tools.CpuProbe [rows] */
object CpuProbe {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toLong).getOrElse(20000000L)
    val spark = Sessions.local("graft-cpu-probe")
    import spark.implicits._
    // warm
    spark.range(0, 1000000, 1, 64).select(max(xxhash64($"id"))).head()
    val t0 = System.nanoTime()
    val iterated = (1 to 200).foldLeft(col("id")) { (c, i) => xxhash64(c, lit(i)) }
    val r = spark.range(0, n, 1, 128)
      .select(iterated.as("h2"))
      .agg(max($"h2")).head()
    println(f"CPU cpus=${Sessions.cpus} sec=${(System.nanoTime()-t0)/1e9}%.2f r=$r")
    spark.stop()
  }
}
