package graft.tools

/** Prints formatted physical plans for representative queries so plan
  * regressions (lost pushdown, missed broadcast, codegen breaks) are
  * visible. Usage: runMain graft.tools.PlanCheck [sfDir] [names...] */
object PlanCheck {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.drop(1).toSeq
      else Seq("q_path_seq_agg", "q_class_anti", "q_range", "q_mincount",
        "q_minhash_lsh", "q_sparql_join",
        // r3: rhpSigTable (one explode + partial aggs + broadcast sig join,
        // WindowGroupLimit top-k) and the GROUP_CONCAT aggregate path
        "q_ann_lsh", "q_sparql_group_concat",
        // r4: GRAPH ?g single-join fast path (no per-graph union), NPS
        // excluded-predicate scan, pre-projection ORDER BY + LIMIT (global
        // TakeOrderedAndProject), embedding near-dup exact baseline
        "q_sparql_graph", "q_sparql_nps", "q_sparql_topk", "q_embed_neardup",
        // r5: portable minhash (banded self-join, small side broadcast),
        // df-capped inverted-index ngram join (AQE broadcasts the rare +
        // array tables), IVF with literal-centroid assignment (no window
        // or crossJoin on the items side), portable simhash
        "q_ngram_jaccard", "q_ann_ivf", "q_simhash",
        // r6: substring dedup (df-capped fingerprint join + diagonal span
        // windows partitioned by pair, never global), its removal half
        // (cut-list groupBy + one codegen transform/filter pass),
        // repetition signals (two keyed groupBys + per-doc window),
        // redaction (pure codegen projection, zero shuffles)
        "q_substring_dedup", "q_substring_clean", "q_repetition", "q_redact",
        // late r6: decontamination (bench fp set broadcast, corpus streams
        // once), stratified sampling (single codegen filter, zero shuffle)
        "q_decontaminate", "q_sample_strata", "q_url_canon")
    val spark = Sessions.local("graft-plan-check")
    names.foreach { n =>
      println(s"========== $n ==========")
      graft.Queries.all(n)(spark, dir).explain("formatted")
    }
    spark.stop()
  }
}
