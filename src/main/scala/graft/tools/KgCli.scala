package graft.tools

import graft.kg.KgPipeline

/** CLI for the KG-construction pipeline: synthesize docs, run all stages
  * with lineage/resume, print stage counts + conformance.
  *
  * Usage: runMain graft.tools.KgCli <outDir> [nDocs] [runId]
  */
object KgCli {
  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("/tmp/graft-kg")
    val n = args.lift(1).map(_.toLong).getOrElse(1000L)
    val runId = args.lift(2).getOrElse("run1")
    val spark = Sessions.local("graft-kg")
    val t0 = System.nanoTime()
    val c = KgPipeline.run(spark, out, n, partitions = Sessions.cpus, runId = runId)
    val dt = (System.nanoTime() - t0) / 1e9
    // peak RSS of this (driver) JVM — the soak evidence that the driver
    // stays bounded while the data scales (VmHWM = high-water mark)
    val peakRss = try scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM")).map(_.split("\\s+")(1).toLong / 1024).getOrElse(-1L)
      catch { case _: Throwable => -1L }
    println(f"docs=${c.docs} spans=${c.spans} mentions=${c.mentions} links=${c.links} " +
      f"entities=${c.entities} components=${c.components} triples=${c.triples} " +
      f"conforms=${c.conforms} seconds=$dt%.1f triples_per_sec=${c.triples / dt}%.0f " +
      f"peak_rss_mb=$peakRss")
    spark.stop()
  }
}
