package graft.tools

import org.apache.spark.sql.functions._

/** CleanPipeline soak driver: synthesizes an N-doc corpus (DocSynth),
  * wraps it with deterministic lang/url columns and a bench split, and
  * runs the staged lineage pipeline — the SIGKILL/resume evidence vehicle
  * for BASELINE.md (KgCli's counterpart for the cleanup tier).
  *
  * Usage: runMain graft.tools.CleanCli <outRoot> [nDocs] [fat]
  */
object CleanCli {
  def main(args: Array[String]): Unit = {
    val outRoot = args(0)
    val nDocs = args.lift(1).map(_.toLong).getOrElse(500000L)
    val fat = args.lift(2).map(_.toInt).getOrElse(5)
    val cpus = Sessions.cpus
    val spark = Sessions.local("graft-clean")
    val t0 = System.nanoTime()
    val all = graft.kg.DocSynth.docs(spark, nDocs, 42, math.max(cpus * 4, 64), fat).toDF()
      .select(col("doc_id"),
        concat_ws(" ", transform(filter(col("spans"), s => s("kind") === lit("text")),
          s => s("text"))).as("text"),
        substring(col("doc_id"), 5, 20).cast("long").as("n"))
    val lang = when(pmod(col("n"), lit(10)) < 5, "en")
      .when(pmod(col("n"), lit(10)) < 7, "de").otherwise("other")
    val url = concat(lit("HTTPS://Ex.COM:443/"),
      when(col("n") % 25 === 0, concat(lit("shared/"), (col("n") % 2).cast("string")))
        .otherwise(concat(lit("u/"), col("n").cast("string"))),
      lit("?utm_source=feed&p=1#frag"))
    val isBench = col("n") % 1000 === 0
    // planted signals so every stage has measurable work at soak scale
    // (DocSynth text alone shares no exact 20-token runs):
    // - docs n and n+1 (n % 100 == 2, disjoint from the url-dedup
    //   collision class n % 25 == 0, which would drop one partner first)
    //   append the same 30-token run -> substring_clean cuts it from the
    //   keep-one loser (df = 2)
    // - bench doc m carries a 15-token eval phrase derived from m; corpus
    //   docs with n % 499 == 7 append the phrase of bench doc
    //   ((n % benchMod) * 1000) -> decontaminate drops them (shared
    //   13-grams). benchMod = the ACTUAL bench-doc count (nDocs/1000), so
    //   the referenced bench doc exists at every soak size — a fixed
    //   modulo 200 assumed nDocs >= 200k and silently gave the
    //   decontaminate stage less work below that
    val pairBase = when(col("n") % 100 === 2, col("n")).otherwise(col("n") - 1)
    val dupRun = concat_ws(" ", (0 until 30).map(i =>
      concat(lit("dup"), pairBase.cast("string"), lit(s"x$i"))): _*)
    val withDup = when(col("n") % 100 === 2 || col("n") % 100 === 3,
      concat(col("text"), lit(" "), dupRun)).otherwise(col("text"))
    val benchMod = math.max(1L, nDocs / 1000L)
    val evalPhrase = concat_ws(" ", (0 until 15).map(i =>
      concat(lit("evalq"), ((col("n") % benchMod) * 1000).cast("string"), lit(s"y$i"))): _*)
    val corpusText = when(col("n") % 499 === 7, concat(withDup, lit(" "), evalPhrase))
      .otherwise(withDup)
    val benchText = concat(col("text"), lit(" "),
      concat_ws(" ", (0 until 15).map(i =>
        concat(lit("evalq"), col("n").cast("string"), lit(s"y$i"))): _*))
    val docs = all.filter(!isBench).select(col("doc_id"), lang.as("lang"),
      lit("synth").as("source"), corpusText.as("text"), url.as("url"))
    val bench = all.filter(isBench).select(col("doc_id"), benchText.as("text"))
    val counts = graft.ops.CleanPipeline.run(spark, outRoot, docs, bench,
      checksum = s"docs=$nDocs;fat=$fat", minWords = 20)
    val dt = (System.nanoTime() - t0) / 1e9
    println(f"CLEAN docs=${counts.docsIn} strip=${counts.afterStrip} " +
      f"url=${counts.afterUrlDedup} quality=${counts.afterQuality} " +
      f"clean=${counts.afterClean} tokensCut=${counts.tokensCut} " +
      f"decon=${counts.afterDecontaminate} sampled=${counts.sampled} sec=$dt%.1f")
    spark.stop()
  }
}
