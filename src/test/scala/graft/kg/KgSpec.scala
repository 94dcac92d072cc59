package graft.kg

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark

class KgSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("CC local-contraction map grows at 3/4 load and stops loudly at its slot limit") {
    import ConnectedComponents.{MaxSlots, slotsFor}
    assert(slotsFor(3072, 4096) == 4096) // exactly 3/4 full stays
    assert(slotsFor(3073, 4096) == 8192)
    // counts whose Int products overflowed (4 * 2^29) still double correctly
    assert(slotsFor((1 << 29) + 1, 1 << 29) == MaxSlots)
    assert(slotsFor(3 * (1 << 28), MaxSlots) == MaxSlots)
    val e = intercept[IllegalStateException](slotsFor(3 * (1 << 28) + 1, MaxSlots))
    assert(e.getMessage.contains("slot map limit"))
  }

  test("connected components match a union-find oracle") {
    // deterministic random graph
    val rnd = new scala.util.Random(7)
    val n = 500
    val edges = (1 to 700).map(_ => (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
    // driver-side union-find oracle
    val parent = Array.tabulate(n)(identity)
    def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); r }
    edges.foreach { case (a, b) =>
      val ra = find(a.toInt); val rb = find(b.toInt)
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val expected = edges.flatMap(e => Seq(e._1, e._2)).distinct
      .map(v => v -> {
        // min id in component
        val r = find(v.toInt)
        edges.flatMap(e => Seq(e._1, e._2)).distinct.filter(u => find(u.toInt) == r).min
      }).toMap

    val got = ConnectedComponents.run(spark, edges.toDF("src", "dst"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // every vertex mapped, to the component min
    assert(expected.keySet == got.keySet)
    val diff = expected.filter { case (k, v) => got(k) != v }
    assert(diff.isEmpty, s"mismatched: ${diff.take(5)}")
  }

  test("CC local contraction is exact across partitions (chain + cliques + singletons)") {
    // r8: converge() contracts each partition with a local union-find
    // before the star rounds. Plant structures that SPAN partitions so the
    // contraction can never see a whole component locally: one 2000-node
    // chain (hash-partitioning scatters adjacent edges), two 30-cliques,
    // and duplicate/reversed edges; force 8 partitions.
    val chain = (0L until 1999L).map(k => (k + 10000L, k + 10001L))
    val clique1 = for (i <- 0 until 30; j <- i + 1 until 30) yield (100L + i, 100L + j)
    val clique2 = for (i <- 0 until 30; j <- i + 1 until 30) yield (500L + j, 500L + i) // reversed
    val edges = (chain ++ clique1 ++ clique2 ++ chain.take(50)).toDF("src", "dst")
      .repartition(8)
    val got = ConnectedComponents.run(spark, edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expected =
      (10000L to 11999L).map(_ -> 10000L) ++
        (100L until 130L).map(_ -> 100L) ++ (500L until 530L).map(_ -> 500L)
    assert(got == expected.toMap)
    // same graph through the multi-partition STAR branch: with AQE
    // coalescing off, the contracted set keeps 4 shuffle partitions, so
    // the single-partition endgame never fires and the star rounds must
    // produce the identical forest
    val key = "spark.sql.adaptive.coalescePartitions.enabled"
    spark.conf.set(key, "false")
    try {
      val gotStar = ConnectedComponents.run(spark, edges)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(gotStar == expected.toMap)
    } finally spark.conf.set(key, "true")
    // runWithVertices: vertex set covers endpoints plus edge-free singletons
    val verts = (Seq(1L, 2L) ++ got.keys).toDF("id")
    val withV = ConnectedComponents.runWithVertices(spark, edges, verts)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(withV == expected.toMap ++ Map(1L -> 1L, 2L -> 2L))
  }

  test("CC local contraction emits exact stars from a node-dense partition") {
    // one partition, 120k scattered ids in components of 2-4 nodes with a
    // few duplicate/reversed edges: the slot map grows to 2^18 slots and
    // the scan emits one star edge per non-root node, checked against a
    // driver-side union-find
    val rnd = new scala.util.Random(11)
    val ids = rnd.shuffle((0L until 120000L).map(_ * 7919L + 3L).toVector)
    val edges = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    var rest = ids
    while (rest.nonEmpty) {
      val (comp, tail) = rest.splitAt(2 + rnd.nextInt(3))
      for (j <- 1 until comp.size) {
        val e = (comp(j), comp(rnd.nextInt(j)))
        edges += (if (rnd.nextBoolean()) e else e.swap)
        if (rnd.nextInt(10) == 0) edges += e.swap
      }
      rest = tail
    }
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = { val p = parent.getOrElse(x, x); if (p == x) x else find(p) }
    edges.foreach { case (a, b) =>
      val ra = find(a); val rb = find(b)
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val expected = edges.flatMap(e => Seq(e._1, e._2)).map(v => v -> find(v)).toMap
    val df = edges.toSeq.toDF("a", "b").coalesce(1)
    assert(df.rdd.getNumPartitions == 1)
    val stars = ConnectedComponents.contractLocal(spark, df)
      .as[(Long, Long)].collect()
    assert(stars.length == expected.count { case (v, r) => v != r })
    assert(stars.toSet == expected.toSeq.collect { case (v, r) if v != r => (r, v) }.toSet)
    val got = ConnectedComponents.run(spark, df.toDF("src", "dst"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == expected)
  }

  test("span tagger preserves per-row span-sequence (kind,text,media_ref,order)") {
    val docs = DocSynth.docs(spark, 200, seed = 42, partitions = 4)
    val tagged = KgPipeline.tagSpans(docs)
    // reassemble and compare against the source rows
    val back = tagged.groupBy($"doc_id")
      .agg(sort_array(collect_list(struct($"span_idx", $"kind", $"text", $"media_ref", $"offset"))).as("xs"))
      .select($"doc_id", expr("transform(xs, x -> struct(x.kind as kind, x.text as text, x.media_ref as media_ref, x.offset as offset))").as("spans"))
    val orig = docs.toDF().select($"doc_id", $"spans")
    assert(back.exceptAll(orig).isEmpty && orig.exceptAll(back).isEmpty)
  }

  test("linkEntities native expressions match the EntityScorer contract") {
    // r8 moved scoring from the typed mapPartitions closure to codegen'd
    // column expressions; every field (incl. the hashCode-derived double
    // score) must be bit-identical to the reference scorer
    val docs = DocSynth.docs(spark, 500, seed = 42, partitions = 4)
    val ments = KgPipeline.mentions(KgPipeline.tagSpans(docs))
    val got = KgPipeline.linkEntities(spark, ments).collect().toSeq
      .sortBy(l => (l.doc_id, l.span_idx, l.surface, l.entity_id))
    val scorer = new KgPipeline.EntityScorer
    val expected = ments.select($"doc_id", $"span_idx", $"surface")
      .as[(String, Int, String)].collect().toSeq
      .map { case (d, i, s) => scorer.score(d, i, s) }
      .sortBy(l => (l.doc_id, l.span_idx, l.surface, l.entity_id))
    assert(got == expected)
  }

  test("pipeline is resumable: second run reuses persisted stages") {
    val out = java.nio.file.Files.createTempDirectory("kgresume").toString
    val c1 = KgPipeline.run(spark, out, 300, partitions = 4, validate = false, runId = "a")
    val c2 = KgPipeline.run(spark, out, 300, partitions = 4, validate = false, runId = "b")
    assert(c1 == c2)
    // every stage of run b must be a resume (skip), recorded in metrics
    val lin = new Lineage(spark, out, "b")
    val resumed = lin.metrics().filter($"runId" === "b" && $"metric" === "resumed").count()
    assert(resumed >= 5, s"expected all 5 stages resumed, got $resumed")
    // changed input => recompute
    val c3 = KgPipeline.run(spark, out, 301, partitions = 4, validate = false, runId = "c")
    assert(c3.docs == 301)
  }

  test("termFrame decides the object kind from the predicate, not the text") {
    val KG = KgPipeline.KG
    val triples = Seq(
      (s"${KG}entity/1", KG + "label", "http://x"),
      ("media:7", KG + "mediaType", "http://image"),
      ("http://graft.dev/doc/1", KG + "mentions", s"${KG}entity/1"),
      ("http://graft.dev/doc/1", KG + "hasMedia", "media:7"),
      (s"${KG}entity/2", KG + "canonical", "entity-2-without-scheme")).toDF("s", "p", "o")
    val kinds = KgPipeline.termFrame(triples)
      .select($"p", $"o.v", $"o.k".cast("int"), $"s.k".cast("int"))
      .as[(String, String, Int, Int)].collect().map(r => r._1 -> (r._2, r._3, r._4)).toMap
    assert(kinds(KG + "label") == (("http://x", 2, 0)), "an IRI-looking label must stay a literal")
    assert(kinds(KG + "mediaType") == (("http://image", 2, 0)))
    assert(kinds(KG + "mentions")._2 == 0 && kinds(KG + "hasMedia")._2 == 0)
    assert(kinds(KG + "canonical")._2 == 0)
  }

  test("emitted triples match an independently-computed oracle with P/R = 1") {
    val out = java.nio.file.Files.createTempDirectory("kgpr").toString
    KgPipeline.run(spark, out, 400, partitions = 4, validate = false, runId = "pr")
    val got = spark.read.parquet(s"$out/triple_store")
      .select($"s", $"p", $"o").as[(String, String, String)].collect().toSet

    // oracle: recompute mentions + CC driver-side from the same synth
    val docs = (0L until 400L).map(id => id -> DocSynth.spansFor(42, id))
    val mentions = docs.flatMap { case (id, spans) =>
      spans.zipWithIndex.collect { case (s, i) if s.kind == "text" =>
        "Entity_[0-9]+".r.findAllIn(s.text).map(m => (id, i, m.stripPrefix("Entity_").toLong))
      }.flatten
    }
    val edges = mentions.groupBy(_._1).values.flatMap { ms =>
      val sorted = ms.sortBy(m => (m._2, m._3)).map(_._3)
      sorted.zip(sorted.drop(1))
    }.toSeq
    val ids = mentions.map(_._3).distinct
    val idx = ids.sorted.zipWithIndex.toMap
    val parent = Array.tabulate(ids.size)(identity)
    def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); r }
    edges.foreach { case (a, b) =>
      val ra = find(idx(a)); val rb = find(idx(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val sortedIds = ids.sorted
    val comp: Map[Long, Long] = ids.map { v =>
      val r = find(idx(v)); v -> sortedIds(r)
    }.toMap
    // min-id per component: relabel to true min
    val byRoot = comp.groupBy(_._2).flatMap { case (_, m) =>
      val minId = m.keys.min; m.keys.map(_ -> minId)
    }
    val KG = KgPipeline.KG
    // media triples: every media span emits doc->hasMedia->ref, and each
    // distinct ref a mediaType derived from the same hash the synthesizer
    // uses (ops/Multimodal.synthPayloads)
    val mediaPairs = docs.flatMap { case (id, spans) =>
      spans.collect { case sp if sp.kind == "media" => (id, sp.media_ref) }
    }
    def mtype(ref: String): String = math.abs(ref.hashCode) % 3 match {
      case 0 => "image"; case 1 => "audio"; case _ => "video"
    }
    val mediaExpected = mediaPairs.flatMap { case (id, ref) =>
      Seq((s"http://graft.dev/doc/$id", KG + "hasMedia", ref),
        (ref, KG + "mediaType", mtype(ref)))
    }.toSet
    val expected0 = mentions.flatMap { case (id, _, e) =>
      val c = byRoot(e)
      Seq(
        (s"http://graft.dev/doc/$id", KG + "mentions", s"${KG}entity/$e"),
        (s"${KG}entity/$c", "http://www.w3.org/1999/02/22-rdf-syntax-ns#type", KG + "Entity"),
        (s"${KG}entity/$c", KG + "label", s"Entity_$c")) ++
        (if (e != c) Seq((s"${KG}entity/$e", KG + "canonical", s"${KG}entity/$c")) else Nil)
    }.toSet
    val expected = expected0 ++ mediaExpected
    val precision = got.intersect(expected).size.toDouble / got.size
    val recall = got.intersect(expected).size.toDouble / expected.size
    assert(precision >= 0.95 && recall >= 0.95,
      s"P=$precision R=$recall got=${got.size} expected=${expected.size} " +
        s"gotOnly=${got.diff(expected).take(3)} expOnly=${expected.diff(got).take(3)}")
  }
}
