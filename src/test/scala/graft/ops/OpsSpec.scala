package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.TestSpark

class OpsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._
  val sf = "/root/testdata/sf0.001"

  test("q_closure equals a driver BFS over the part keys' halving tree") {
    val keys = spark.read.parquet(s"$sf/part.parquet")
      .select($"p_partkey".cast("long")).as[Long].collect()
    val children = keys.filter(_ / 2 >= 1).groupBy(_ / 2)
    val seen = scala.collection.mutable.Set(1L)
    var frontier = Seq(1L)
    while (frontier.nonEmpty)
      frontier = frontier.flatMap(n => children.getOrElse(n, Array.empty[Long])).filter(seen.add)
    val got = graft.Queries.qClosure(spark, sf).as[Long].collect()
    assert(got.length == got.distinct.length, "closure rows form a set")
    assert(got.toSet == seen.toSet && seen.size > 100)
  }

  test("exact dedup finds planted duplicates") {
    val docs = Seq((1L, "The Cat sat."), (2L, "the cat sat"), (3L, "unique text here"))
      .toDF("doc_id", "text")
    val dups = Dedup.exact(docs, "doc_id", "text").collect()
    assert(dups.length == 1 && dups(0).getAs[Long]("cnt") == 2)
  }

  test("minhash LSH recalls near-duplicates and skips unrelated docs") {
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    val docs = Seq(
      (1L, base),
      (2L, base + " ok"), // near-dup of 1
      (3L, "completely different words about spark dataframes and shuffles everywhere"))
      .toDF("doc_id", "text")
    val pairs = Dedup.minhashLshPortable(docs, "doc_id", "text")
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("simhash near-dup recalls planted pairs at Hamming distance 4-10") {
    // pairs of documents differing in d tokens (=> simhash distance grows
    // with d); the banded join must surface every pair with dist <= maxDist
    val base = (0 until 40).map(i => s"tok$i").mkString(" ")
    def mutate(d: Int) = ((0 until d).map(i => s"chg${d}_$i") ++
      (d until 40).map(i => s"tok$i")).mkString(" ")
    val docs = (Seq(0L -> base) ++ (1 to 8).map(d => d.toLong -> mutate(d)))
      .toDF("doc_id", "text")
    val sig = Dedup.simhashSigPortable(docs, "doc_id", "text").as[(Long, Long)].collect().toMap
    def ham(x: Long, y: Long) = java.lang.Long.bitCount(x ^ y)
    val withinTen = (1 to 8).map(_.toLong).filter(d => ham(sig(0L), sig(d)) <= 10)
    val interesting = withinTen.filter(d => ham(sig(0L), sig(d)) >= 4)
    assert(interesting.nonEmpty, "fixture produced no pairs at dist 4-10; adjust tokens")
    val found = Dedup.simhashNearDupPortable(docs, "doc_id", "text", maxDist = 10)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    val missing = withinTen.filterNot(d =>
      found.contains((0L, d)) || found.contains((d, 0L)))
    assert(missing.isEmpty,
      s"pairs within dist 10 missed by banding: ${missing.map(d => (d, ham(sig(0L), sig(d))))}")
  }

  test("ngram jaccard: identical docs = 1.0") {
    val docs = Seq((1L, "a b c d e f"), (2L, "a b c d e f")).toDF("doc_id", "text")
    val cands = Seq((1L, 2L)).toDF("id_a", "id_b")
    val j = Dedup.ngramJaccard(docs, "doc_id", "text", cands).collect()(0).getAs[Double]("jaccard")
    assert(j == 1.0)
  }

  test("brute-force ANN: self-similar vector ranks first; LSH recall measured") {
    val items = spark.read.parquet(s"$sf/embeddings.parquet")
    val queries = items.filter($"vec_id" < 4)
    val bf = Similarity.bruteForceTopK(items, queries, "vec_id", "embedding", 5)
    assert(bf.groupBy($"q_id").count().collect().forall(_.getLong(1) == 5))
    // banded multi-table LSH: measure recall on PLANTED near neighbors
    // (a perturbed copy of each item is its true nearest neighbor — random
    // vectors' brute-force "top-5" are near-orthogonal, which an ANN index
    // is allowed to miss; real corpora query for genuinely close vectors)
    val planted = items.limit(20).select(($"vec_id" + 100000L).as("vec_id"),
      transform($"embedding", (x, i) =>
        x + (pmod(xxhash64(i.cast("string")), lit(100L)).cast("float") / 5000.0f))
        .as("embedding"))
    val lsh = Similarity.lshTopKPortable(items, planted, "vec_id", "embedding", 5,
      bits = 12, tables = 4)
    val hits = lsh.filter($"item_id" === $"q_id" - 100000L)
      .select($"q_id").distinct().count()
    val recall = hits.toDouble / 20.0
    assert(recall >= 0.9, s"banded LSH recall of planted neighbors $recall < 0.9")
    // bucket sizes must stay bounded: 2^bits buckets per table spread load
    val sizes = Similarity.lshBucketSizesPortable(items, "vec_id", "embedding",
      bits = 12, tables = 4)
    val total = items.count()
    val maxBucket = sizes.agg(max($"n")).as[Long].collect()(0)
    assert(maxBucket < total / 4,
      s"largest bucket $maxBucket of $total items — signatures are not spreading")
    // empty embeddings keep their id in the signature table (sig 0 per
    // table) instead of silently vanishing from candidates/diagnostics
    val withEmpty = items.select($"vec_id", $"embedding").limit(3).unionByName(
      spark.range(1).select(lit(999999L).as("vec_id"),
        array().cast("array<float>").as("embedding")))
    val sigs = Similarity.rhpSigTable(withEmpty, "vec_id", "embedding", 12, 4)
    assert(sigs.filter($"id" === 999999L).count() == 4)
    assert(sigs.filter($"id" === 999999L && $"sig" === 0L).count() == 4)
  }

  test("text ops: token count / quality / langid deterministic") {
    val df = Seq(
      ("d1", "the cat and the dog is in the house"),
      ("d2", "le chat et la maison est grande"),
      ("d3", "")).toDF("doc_id", "text")
    val r = df.select($"doc_id", TextOps.tokenCount($"text").as("n"),
      TextOps.langId($"text").as("lang")).collect()
      .map(x => x.getString(0) -> (x.getInt(1), x.getString(2))).toMap
    assert(r("d1") == ((9, "en")))
    assert(r("d2") == ((7, "fr")))
    assert(r("d3")._1 == 0)
  }

  test("IVF ANN recalls planted neighbors through probed cells") {
    val items = spark.read.parquet(s"$sf/embeddings.parquet")
      .select($"vec_id", $"embedding")
    val planted = items.orderBy($"vec_id").limit(20)
      .select(($"vec_id" + 100000L).as("vec_id"),
        transform($"embedding", (x, i) =>
          x + (pmod(xxhash64(i.cast("string")), lit(100L)).cast("float") / 5000.0f))
          .as("embedding"))
    val ivf = Similarity.ivfTopKPortable(items, planted, "vec_id", "embedding", 5,
      nlist = 16, nprobe = 4)
    // a near-identical query must find its source item inside its probed
    // cells (the source's cell is the query's nearest centroid too)
    val hits = ivf.filter($"item_id" === $"q_id" - 100000L)
      .select($"q_id").distinct().count()
    assert(hits >= 18, s"IVF recall $hits/20 < 18/20")
    // candidate bound: items spread over multiple cells, so a query at
    // nprobe=4 scores at most 4 x max-cell items — never the full table
    // (the rank-capped topK output itself proves nothing about this)
    val total = items.count()
    val sizes = Similarity.ivfCellSizesPortable(items, "vec_id", "embedding", nlist = 16)
      .as[(Int, Long)].collect()
    assert(sizes.length >= 4, s"only ${sizes.length} occupied cells")
    val maxCell = sizes.map(_._2).max
    assert(maxCell < total, s"one cell holds all $total items")
  }

  test("embedding-cosine near-dup: LSH pairs = exact pairs on planted duplicates") {
    val items = spark.read.parquet(s"$sf/embeddings.parquet")
      .select($"vec_id", $"embedding").orderBy($"vec_id").limit(60)
    // plant a near-identical copy of each of the first 10 vectors
    val planted = items.limit(10).select(($"vec_id" + 100000L).as("vec_id"),
      transform($"embedding", (x, i) =>
        x + (pmod(xxhash64(i.cast("string")), lit(100L)).cast("float") / 20000.0f))
        .as("embedding"))
    val all = items.unionByName(planted)
    val exact = Dedup.embeddingNearDupExact(all, "vec_id", "embedding", 0.9)
      .select($"a_id", $"b_id").as[(Long, Long)].collect().toSet
    // the 10 planted pairs are the only cos>=0.9 pairs among randoms
    assert(exact.size == 10)
    assert((0 until 10).forall(i => exact.exists(p => p._2 - p._1 == 100000L)))
    val lsh = Dedup.embeddingNearDupLsh(all, "vec_id", "embedding", 0.9)
      .select($"a_id", $"b_id").as[(Long, Long)].collect().toSet
    // LSH never invents pairs (verify step is exact cosine) and at these
    // defaults recalls essentially all near-identical pairs
    assert(lsh.subsetOf(exact))
    assert(lsh.size >= 9, s"LSH near-dup recall ${lsh.size}/10 < 9/10")
  }

  test("multimodal: per-partition batched decode is deterministic + frame sampling works") {
    val refs = (1 to 12).map(i => s"media://r$i").toDF("media_ref")
    val media = Multimodal.synthPayloads(spark, refs, "media_ref")
    def canon(xs: Array[Multimodal.MediaFeatures]) =
      xs.sortBy(_.media_ref).map(f =>
        (f.media_ref, f.media_type, f.width, f.height, f.n_frames, f.feature.toSeq)).toSeq
    val f1 = Multimodal.decodeFeatures(spark, media).collect()
    val f2 = Multimodal.decodeFeatures(spark, media.repartition(3)).collect()
    assert(canon(f1) == canon(f2)) // partitioning must not change results
    assert(f1.forall(_.feature.length == 8))
    // the decoder derives media_type from the container magic; it must
    // agree with the synthesized claim for every row
    val claimed = media.collect().map(r => r.media_ref -> r.media_type).toMap
    assert(f1.forall(f => claimed(f.media_ref) == f.media_type))
    val frames = Multimodal.sampleFrames(Multimodal.decodeFeatures(spark, media).toDF())
    frames.collect() // videos only; may be empty — plumbing must run
  }

  test("multimodal: decoded dimensions come from the actual container bytes") {
    val bmp = Multimodal.MediaRow("m:bmp", "image", Multimodal.synthBmp(5, 3, 42))
    val wav = Multimodal.MediaRow("m:wav", "audio", Multimodal.synthWav(2, 8000, 20, 7))
    val avi = Multimodal.MediaRow("m:avi", "video", Multimodal.synthAvi(32, 24, 17, 9))
    val codec = new Multimodal.HeaderCodec
    val db = codec.decode(bmp)
    assert(db.media_type == "image" && db.width == 5 && db.height == 3 && db.n_frames == 1)
    val dw = codec.decode(wav)
    assert(dw.media_type == "audio" && dw.width == 8000 && dw.height == 2 && dw.n_frames == 20)
    val da = codec.decode(avi)
    assert(da.media_type == "video" && da.width == 32 && da.height == 24 && da.n_frames == 17)
    // feature histogram sums to ~1 (normalized over payload body)
    assert(math.abs(db.feature.sum - 1.0f) < 1e-3)
    // malformed payloads fail loudly, not as a silent wrong type
    intercept[IllegalArgumentException](
      codec.decode(Multimodal.MediaRow("m:x", "image", Array[Byte](1, 2, 3, 4))))
    // a corrupt RIFF chunk size must raise, not wedge the walk (a size
    // like 0xFFFFFFF8 once made the loop advance by zero — executor hang)
    val evil = Multimodal.synthWav(1, 8000, 4, 1)
    evil(16) = -8; evil(17) = -1; evil(18) = -1; evil(19) = -1 // fmt size = 0xFFFFFFF8
    intercept[IllegalArgumentException](
      codec.decode(Multimodal.MediaRow("m:evil", "audio", evil)))
  }

  test("gopher filter: degenerate docs drop, normal prose keeps") {
    val clean = ("the quick brown fox jumps over the lazy dog and then " +
      "walks into the forest to find some food for the long winter season " +
      "while birds are singing in the trees above the quiet river bank " +
      "where children often play during warm summer afternoons with kites " +
      "and later the families gather around small fires to share stories " +
      "about distant mountains and the travelers who once crossed them").trim
    val looping = (1 to 40).map(_ => "buy cheap pills now").mkString(" ")
    val symbols = (1 to 60).map(_ => "@@## $$%% ^^&&").mkString(" ")
    val df = Seq((1L, clean), (2L, looping), (3L, symbols), (4L, "too short"))
      .toDF("doc_id", "text")
      .select($"doc_id", TextOps.gopherKeep($"text").as("keep"),
        TextOps.dupTrigramFraction($"text").as("dup3"),
        TextOps.symbolRatio($"text").as("symr"))
    val m = df.collect().map(r => r.getLong(0) ->
      (r.getBoolean(1), r.getDouble(2), r.getDouble(3))).toMap
    assert(m(1L)._1, "clean prose must keep")
    assert(!m(2L)._1 && m(2L)._2 > 0.9, "looping doc must drop on repetition")
    assert(!m(3L)._1 && m(3L)._3 > 0.1, "symbol soup must drop on symbol ratio")
    assert(!m(4L)._1, "short doc must drop on word count")
  }

  test("trigram shingle kernel equals the transform/slice/array_join chain it replaced") {
    // the pre-kernel repetition signal, written out as the executable
    // contract: every shingle, dup3 and keep verdict must match it
    val prose = ("the quick brown fox jumps over the lazy dog and then " +
      "walks into the forest to find some food for the long winter season " +
      "while birds are singing in the trees above the quiet river bank " +
      "where children often play during warm summer afternoons with kites " +
      "and later the families gather around small fires to share stories " +
      "about distant mountains and the travelers who once crossed them")
    val edge = Seq[String](null, "", "one", "two words", "   lead and trail   ",
      "tab\tsep\tWords\nnew line  \t run\r\nof   white space here",
      "Café naïve ÜBER straße 東京 タワー café naïve über straße",
      (1 to 500).map(_ => "buy cheap pills now").mkString(" "), // 2,000 tokens
      prose, s"  $prose\t$prose  ")
    val corpus = spark.read.parquet(s"$sf/documents.parquet").select($"doc_id", $"text")
    val docs = edge.zipWithIndex.map { case (t, i) => (900000L + i, t) }
      .toDF("doc_id", "text").union(corpus)
    val toks = split(lower(trim($"text")), "\\s+")
    val hof = filter(transform(toks, (_, i) =>
      when(i <= size(toks) - 3, array_join(slice(toks, i + 1, lit(3)), " "))), _.isNotNull)
    val oldDup3 = when(size(hof) < 1, lit(0.0d))
      .otherwise(round(lit(1.0d) - size(array_distinct(hof)).cast("double") / size(hof), 4))
    val oldKeep = TextOps.tokenCount($"text").between(50, 100000) &&
      TextOps.meanWordLen($"text").between(3.0, 10.0) &&
      (TextOps.symbolRatio($"text") < 0.1) && (TextOps.stopwordRatio($"text") > 0.03) &&
      (oldDup3 < 0.2)
    val rows = docs.select($"doc_id", hof, WordShingles.column(toks, 3),
      oldDup3, TextOps.dupTrigramFraction($"text"), oldKeep, TextOps.gopherKeep($"text"))
      .collect()
    assert(rows.length == edge.size + corpus.count())
    for (r <- rows) {
      val id = r.getLong(0)
      assert(r.get(1) == r.get(2), s"shingles differ for doc $id")
      assert(r.get(3) == r.get(4), s"dup3 differs for doc $id")
      assert(r.get(5) == r.get(6), s"keep differs for doc $id")
    }
    val byId = rows.map(r => r.getLong(0) -> r).toMap
    assert(byId(900000L).isNullAt(2) && byId(900000L).isNullAt(4)) // null text
    assert(byId(900003L).getSeq[String](2).isEmpty && byId(900003L).getDouble(4) == 0.0)
    assert(byId(900007L).getSeq[String](2).size == 1998 && byId(900007L).getDouble(4) > 0.99)
    assert(byId(900008L).getBoolean(6) && !byId(900009L).getBoolean(6)) // prose keeps, doubled drops
  }

  test("gopherKeep tokenizes once per row: no lambda body re-splits the text") {
    // a lambda that names the token array re-runs the regex split for
    // every element (O(n²) per document); the stopword filter's lambda
    // only tests isin, so it is the one lambda expected here
    import org.apache.spark.sql.catalyst.expressions.{LambdaFunction, StringSplit}
    val plan = Seq("some text").toDF("text")
      .select(TextOps.gopherKeep($"text")).queryExecution.analyzed
    val lambdas = plan.flatMap(_.expressions).flatMap(_.collect { case l: LambdaFunction => l })
    assert(lambdas.nonEmpty, "the walk must reach the stopword filter's lambda")
    val resplits = lambdas.filter(_.function.exists(_.isInstanceOf[StringSplit]))
    assert(resplits.isEmpty, s"per-element re-tokenization: ${resplits.map(_.sql).mkString("; ")}")
  }

  test("portable ANN twins: partition-invariant signatures + recall pinned") {
    val items = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
      .select($"vec_id", $"embedding")
    // integer projections make the portable signature EXACT — invariant
    // under partitioning (the float fast path documents a near-zero
    // sign-bit wobble under re-partitioning; the twin must have none,
    // that's what licenses its DuckDB hash oracle)
    def sigs(df: org.apache.spark.sql.DataFrame) =
      Similarity.rhpSigTablePortable(df, "vec_id", "embedding", 12, 4)
        .collect().map(_.toString).toSet
    assert(sigs(items.repartition(1)) == sigs(items.repartition(7)))
    // planted-neighbor recall through the portable LSH (same bar as the
    // xxhash64 fast path)
    val planted = items.orderBy($"vec_id").limit(20)
      .select(($"vec_id" + 100000L).as("vec_id"),
        transform($"embedding", (x, i) =>
          x + (pmod(xxhash64(i.cast("string")), lit(100L)).cast("float") / 5000.0f))
          .as("embedding"))
    val lsh = Similarity.lshTopKPortable(items, planted, "vec_id", "embedding", 5)
    val lshHits = lsh.filter($"item_id" === $"q_id" - 100000L)
      .select($"q_id").distinct().count()
    assert(lshHits >= 18, s"portable LSH recall $lshHits/20 < 18/20")
    // portable IVF vs exact brute force at the q_ann_ivf defaults
    val q = items.filter($"vec_id" < 8)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select($"q_id", $"item_id").collect().map(_.toString).toSet
    val exact = pairs(Similarity.bruteForceTopK(items, q, "vec_id", "embedding", 5))
    val ivf = pairs(Similarity.ivfTopKPortable(items, q, "vec_id", "embedding", 5))
    val recall = (exact & ivf).size.toDouble / exact.size
    assert(recall >= 0.9, s"portable IVF recall vs brute force $recall < 0.9")
    // an empty embedding yields NO portable signature rows (parity with
    // the SQL oracle's unnest, which drops it — unlike the fast path,
    // which keeps it for diagnostics) and doesn't break the IVF twin
    val withEmpty = items.limit(3).unionByName(
      spark.range(1).select(lit(999999L).as("vec_id"),
        array().cast("array<float>").as("embedding")))
    assert(Similarity.rhpSigTablePortable(withEmpty, "vec_id", "embedding", 12, 4)
      .filter($"id" === 999999L).count() == 0)
    assert(Similarity.ivfTopKPortable(withEmpty, withEmpty, "vec_id", "embedding",
      2, nlist = 2, nprobe = 2, itemProbe = 1)
      .filter($"q_id" === 999999L || $"item_id" === 999999L).count() == 0)
    // per-frame dim probe: a query longer than every item projects over
    // ALL its dimensions without an out-of-bounds, and an empty frame
    // yields an empty result instead of an NPE from the dim probe
    val longQ = spark.range(1).select(lit(888888L).as("vec_id"),
      typedLit((0 until 128).map(_.toFloat / 128f)).cast("array<float>").as("embedding"))
    assert(Similarity.lshTopKPortable(items, longQ, "vec_id", "embedding", 5)
      .count() >= 0)
    val none = items.filter(lit(false))
    assert(Similarity.lshTopKPortable(none, none, "vec_id", "embedding", 5).count() == 0)
  }

  test("substring dedup hot keys: over-cap boilerplate never fans out, at-cap fan-out bounded") {
    // the df-cap is the skew guard of the dedup joins: a window shared by
    // MORE than maxDf distinct docs (boilerplate) must contribute ZERO
    // candidate pairs, and an at-cap window repeated many times per doc
    // (max multiplicity) must fan out no further than the closed-form
    // diagonal bound — this is the bound the BENCH dedup_skew block
    // measures wall-clock evidence for
    val W = 8
    val hotRun = (0 until W).map(i => s"hot$i").mkString(" ")
    val boilRun = (0 until W).map(i => s"boil$i").mkString(" ")
    val occ = 8
    val hot = (0 until 5).map { d =>
      // run repeated back-to-back `occ` times (max multiplicity: every
      // in-run window position collides) + a doc-unique tail; windows on
      // the same diagonal are consecutive, so they merge — per pair the
      // diagonals are the multiples of W in (-occ*W, occ*W): 2*occ-1
      (100L + d, ((0 until occ).map(_ => hotRun) :+ s"tail$d").mkString(" "))
    }
    val boil = (0 until 25).map(d => (200L + d, s"$boilRun uniq$d extra$d"))
    val docs = (hot ++ boil).toDF("doc_id", "text")
    val spans = Dedup.substringDedup(docs, "doc_id", "text",
      window = W, stride = 1, maxDf = 20)
      .select($"id_a", $"id_b", $"n_windows").as[(Long, Long, Long)].collect()
    // boilerplate docs (df 25 > maxDf 20): no spans among them, none across
    assert(!spans.exists(s => s._1 >= 200 || s._2 >= 200),
      s"over-cap boilerplate fanned out: ${spans.filter(_._1 >= 200).take(3).toSeq}")
    // hot docs: every pair collides, but bounded — per pair at most
    // occ aligned positions per doc => <= 2*occ-1 diagonals, each one span
    val hotSpans = spans.filter(s => s._1 >= 100 && s._1 < 200)
    assert(hotSpans.nonEmpty)
    val perPair = hotSpans.groupBy(s => (s._1, s._2)).view.mapValues(_.length)
    assert(perPair.keySet.size <= 10) // C(5,2) pairs
    assert(perPair.values.forall(_ <= 2 * occ - 1),
      s"per-pair span count exceeded the diagonal bound: ${perPair.toMap}")
  }

  test("pre-tokenized overloads: spans/flags match the text path, types survive") {
    // token ids = md5-derived hash per word: preserves token equality, so
    // the array<long> overload must detect EXACTLY the text path's spans
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select($"doc_id", $"text")
    val ids = transform(split(lower(trim($"text")), "\\s+"),
      t => conv(substring(md5(t), 1, 15), 16, 10).cast("long"))
    val tokDocs = docs.select($"doc_id", ids.as("ids"))
    def spanSet(df: org.apache.spark.sql.DataFrame) =
      df.select($"id_a", $"id_b", $"a_start", $"a_end", $"b_start", $"b_end")
        .collect().map(_.toString).toSet
    val viaText = spanSet(Dedup.substringDedup(docs, "doc_id", "text"))
    val viaTok = spanSet(Dedup.substringDedupTokens(tokDocs, "doc_id", "ids"))
    assert(viaText == viaTok && viaTok.nonEmpty)
    // clean twin: cuts positionally identical, cleaned column keeps the
    // caller's element type (array<long> in, array<long> out)
    val cleanTok = Dedup.substringDedupCleanTokens(tokDocs, "doc_id", "ids")
    assert(cleanTok.schema("tokens_clean").dataType ==
      org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.LongType))
    val cutText = Dedup.substringDedupClean(docs, "doc_id", "text")
      .select($"id", $"n_cut").as[(Long, Long)].collect().toMap
    val cutTok = cleanTok.select($"id", $"n_cut").as[(Long, Long)].collect().toMap
    assert(cutText == cutTok)
    // decontamination twin: same flags over the id column
    val isBench = $"doc_id" % 7 === 0
    def flags(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).toSet
    val dText = flags(Dedup.decontaminate(docs.filter(!isBench), docs.filter(isBench),
      "doc_id", "text", "doc_id", "text"))
    val dTok = flags(Dedup.decontaminateTokens(tokDocs.filter(!isBench),
      tokDocs.filter(isBench), "doc_id", "ids", "doc_id", "ids"))
    assert(dText == dTok && dTok.nonEmpty)
  }

  test("decontamination flags docs sharing a 13-gram with the bench set") {
    val run = (1 to 13).map(i => s"b$i").mkString(" ")
    val bench = Seq((100L, s"intro words $run outro")).toDF("doc_id", "text")
    val docs = Seq(
      (1L, s"x $run y"), // one full 13-token run -> one hit
      (2L, (1 to 12).map(i => s"b$i").mkString(" ") + " z a b c"), // 12 shared only
      (3L, s"$run mid $run")) // the run twice -> two hit positions, one bench doc
      .toDF("doc_id", "text")
    val r = Dedup.decontaminate(docs, bench, "doc_id", "text", "doc_id", "text")
      .collect().map(x => x.getLong(0) -> ((x.getLong(1), x.getLong(2)))).toMap
    assert(r(1L) == ((1L, 1L)), s"doc 1: ${r.get(1L)}")
    assert(!r.contains(2L), "a 12-token overlap must NOT flag at n=13")
    assert(r(3L) == ((2L, 1L)), s"doc 3: ${r.get(3L)}")
  }

  test("stratified sampling: pure hash of id — exact, auditable, partition-invariant") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select($"doc_id", $"lang", $"source")
    val rates = Map("en" -> 0.5, "de" -> 0.25)
    val kept = Sampling.sampleStratified(docs, "doc_id", "lang", rates, 0.1)
    val rows = kept.collect()
    assert(rows.nonEmpty)
    assert(rows.map(_.toString).toSet ==
      Sampling.sampleStratified(docs.repartition(5), "doc_id", "lang", rates, 0.1)
        .collect().map(_.toString).toSet)
    // every decision recomputes from the id alone (soundness), and every
    // dropped row fails the same test (completeness)
    def bucket(id: Long): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(md.substring(0, 15), 16) % 1000000L
    }
    rows.foreach { r =>
      assert(r.getAs[Long]("bucket") == bucket(r.getLong(0)))
      assert(r.getAs[Long]("bucket") < r.getAs[Long]("rate_ppm"))
    }
    val keptIds = rows.map(_.getLong(0)).toSet
    docs.collect().foreach { r =>
      if (!keptIds.contains(r.getLong(0))) {
        val ppm = math.round(rates.getOrElse(r.getString(1), 0.1) * 1e6)
        assert(bucket(r.getLong(0)) >= ppm,
          s"doc ${r.getLong(0)} (${r.getString(1)}) dropped but bucket < rate")
      }
    }
  }

  test("url canonicalization: case/port/fragment/tracking/root-slash rules") {
    val cases = Seq(
      "HTTPS://Example.COM:443/p/7?utm_source=feed&id=7#sec" -> "https://example.com/p/7?id=7",
      "http://Ex.ORG:80/" -> "http://ex.org",
      "http://ex.org/q?a=1&utm_campaign=x&b=2" -> "http://ex.org/q?a=1&b=2",
      "https://sub.ex.org/a/b?id=3" -> "https://sub.ex.org/a/b?id=3",
      "not a url at all" -> "not a url at all", // pass-through
      "http://x.com/?utm_a=1&utm_b=2" -> "http://x.com", // all params tracking
      "https://x.com:8443/keep:port?fbclid=abc" -> "https://x.com:8443/keep:port",
      "https://x.com/CaseSensitive/Path" -> "https://x.com/CaseSensitive/Path",
      // '&' is legal in a path segment: no query part -> nothing stripped
      "http://x.com/a&utm_b=2/c" -> "http://x.com/a&utm_b=2/c",
      // but the same text in the QUERY is a tracking param and drops
      "http://x.com/p?a=1&utm_b=2/c" -> "http://x.com/p?a=1")
    val got = cases.map(_._1).toDF("url")
      .select($"url", TextOps.urlCanon($"url").as("canon"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    cases.foreach { case (raw, want) =>
      assert(got(raw) == want, s"$raw -> ${got(raw)} (want $want)") }
  }

  test("UrlCanon kernel equals the regexp column chain it replaced") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.StringType
    import org.apache.spark.unsafe.types.UTF8String
    // the pre-kernel chain, written out as the executable contract (the
    // DuckDB oracle SQL of q_url_canon runs the same steps)
    def chain(url: Column): Column = {
      val noFrag = regexp_replace(url, "#.*", "")
      val head = regexp_extract(noFrag, "^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*", 0)
      val lowered = concat(lower(head), noFrag.substr(length(head) + 1, length(noFrag)))
      val noPort = regexp_replace(
        regexp_replace(lowered, "^(http://[^/:?#]+):80([/?#]|$)", "$1$2"),
        "^(https://[^/:?#]+):443([/?#]|$)", "$1$2")
      val base = regexp_extract(noPort, "^[^?]*", 0)
      val qs = when(length(noPort) > length(base),
        noPort.substr(length(base) + 2, length(noPort))).otherwise(lit(""))
      val qs2 = regexp_replace(qs, "(^|&)(utm_[A-Za-z0-9_]*|fbclid|gclid)=[^&]*", "$1")
      val qs3 = regexp_replace(regexp_replace(qs2, "&&+", "&"), "^&+|&+$", "")
      val tidy = concat(base, when(qs3 =!= "", concat(lit("?"), qs3)).otherwise(lit("")))
      regexp_replace(tidy, "^(https?://[^/?#]+)/([?#]|$)", "$1$2")
    }
    val existing = Seq(
      "HTTPS://Example.COM:443/p/7?utm_source=feed&id=7#sec", "http://Ex.ORG:80/",
      "http://ex.org/q?a=1&utm_campaign=x&b=2", "https://sub.ex.org/a/b?id=3",
      "not a url at all", "http://x.com/?utm_a=1&utm_b=2",
      "https://x.com:8443/keep:port?fbclid=abc", "https://x.com/CaseSensitive/Path",
      "http://x.com/a&utm_b=2/c", "http://x.com/p?a=1&utm_b=2/c")
    val ports = for {
      (scheme, port) <- Seq("http" -> 80, "https" -> 443, "http" -> 443, "https" -> 80)
      path <- Seq("", "/p/Q")
      query <- Seq("", "?q=1&utm_a=2")
      frag <- Seq("", "#F")
    } yield s"$scheme://Ex.COM:$port$path$query$frag"
    val vithkuqi = new String(Character.toChars(0x10570)) // capital, Unicode 14
    val edge = Seq[String](null, "", "?", "#", "#x", "https://x:443?q", "ftp://X.Y:80/",
      "http://x.com/p?a=1?b=2?c", "http://x.com?a?b", "http://x.com/p?a=1&&&b=2&&&&c",
      "http://x.com/?&a=1&", "http://x.com/p?&&&", "http://x.com/p?utm_a=1&fbclid=2&gclid=3",
      "http://x.com/?utm_a=&&gclid=x&", "http://x.com/p?UTM_x=1&utm_y=2",
      "http://x.com/p?fbclid&a=1", "http://x.com/p?a=1\n#frag", "HTTP://X.COM:80\n#f",
      "http://X.com/p\nq#f\nr", "HTTP://İSTANBUL.example/İ", "https://STRASSE-ß.DE/ß",
      "http://ΣΊΣΥΦΟΣ.GR/ΣΟΣ?utm_a=Σ", s"http://A$vithkuqi.COM/$vithkuqi?q=$vithkuqi",
      s"https://X.com:443/😀?utm_x=1&k=😀#😀",
      "mailto:X@Y.COM", "//Host.COM/p", "HTTP://[::1]:80/", "http://user:PW@X.COM:80/p")
    // the clean_docs benchmark corpus's URL formula, over its 5,000 ids
    val n = $"id"
    val corpusUrls = spark.range(5000).select(concat(lit("HTTPS://Ex.COM:443/"),
      when(n % 25 === 0, concat(lit("shared/"), (n % 2).cast("string")))
        .otherwise(concat(lit("u/"), n.cast("string"))),
      lit("?utm_source=feed&p=1#frag")).as("url"))
    val queryUrls = graft.Queries.qUrlCanon(spark, sf).select($"url_raw".as("url"))
    // an RDD source, so the projection runs generated code, not a local fold
    val urls = spark.sparkContext.parallelize(existing ++ ports ++ edge, 2).toDF("url")
      .union(corpusUrls).union(queryUrls)
    val rows = urls.select($"url", chain($"url"), TextOps.urlCanon($"url")).collect()
    assert(rows.length == existing.size + ports.size + edge.size + 5000 +
      queryUrls.count())
    for (r <- rows) assert(r.get(1) == r.get(2), s"${r.get(0)}: ${r.get(1)} vs ${r.get(2)}")
    val got = rows.map(r => Option(r.getString(0)) -> r.getString(2)).toMap
    assert(got(None) == null)
    assert(got(Some("http://x.com/p?UTM_x=1&utm_y=2")) == "http://x.com/p?UTM_x=1") // case-sensitive
    assert(got(Some("http://x.com/p?fbclid&a=1")) == "http://x.com/p?fbclid&a=1") // no '=' kept
    assert(got(Some(s"http://A$vithkuqi.COM/$vithkuqi?q=$vithkuqi")) ==
      s"http://a${new String(Character.toChars(0x10597))}.com/$vithkuqi?q=$vithkuqi")
    // interpreted eval agrees with the generated code
    for (r <- rows) assert(UrlCanon(Literal.create(r.getString(0), StringType)).eval() ==
      Option(r.getString(2)).map(UTF8String.fromString).orNull, s"${r.get(0)}")
    val e = intercept[org.apache.spark.sql.AnalysisException](
      spark.range(1).select(TextOps.urlCanon($"id")).collect())
    assert(e.getMessage.contains("graft_url_canon"), e.getMessage)
  }

  test("url_dedup plans one kernel call per row: no regex node, under 100 expression nodes") {
    import org.apache.spark.sql.catalyst.expressions.{RegExpExtract, RegExpReplace}
    // a Range source, so the optimizer cannot fold the projection away
    val docs = spark.range(3).select($"id".cast("string").as("doc_id"),
      concat(lit("HTTP://X.com:80/p"), ($"id" % 2).cast("string"), lit("?utm_a=1#f")).as("url"))
    val plan = CleanPipeline.urlDedup(docs, "doc_id", "url").queryExecution.optimizedPlan
    val nodes = plan.flatMap(_.expressions).flatMap(_.collect { case e => e })
    val regex = nodes.filter(e => e.isInstanceOf[RegExpReplace] || e.isInstanceOf[RegExpExtract])
    assert(regex.isEmpty, s"${regex.size} regex nodes in url_dedup's plan")
    assert(nodes.size < 100, s"${nodes.size} expression nodes in url_dedup's plan")
  }

  // little-endian writers for hand-built containers in the tests below
  private def le16(b: Array[Byte], i: Int, v: Int): Unit = {
    b(i) = (v & 0xff).toByte; b(i + 1) = ((v >> 8) & 0xff).toByte
  }
  private def le32(b: Array[Byte], i: Int, v: Long): Unit = {
    b(i) = (v & 0xff).toByte; b(i + 1) = ((v >> 8) & 0xff).toByte
    b(i + 2) = ((v >> 16) & 0xff).toByte; b(i + 3) = ((v >> 24) & 0xff).toByte
  }
  private def tagB(b: Array[Byte], i: Int, t: String): Unit =
    t.getBytes("US-ASCII").zipWithIndex.foreach { case (c, j) => b(i + j) = c }

  test("multimodal: WAV with data chunk BEFORE fmt still counts frames right") {
    // legal-in-the-wild ordering; frames must use the real blockAlign
    // (2 ch * 16 bit = 4), not the default 1 seen mid-walk
    val channels = 2; val samples = 10; val blockAlign = channels * 2
    val dataSize = samples * blockAlign
    val b = new Array[Byte](12 + 8 + dataSize + 8 + 16)
    tagB(b, 0, "RIFF"); le32(b, 4, (b.length - 8).toLong); tagB(b, 8, "WAVE")
    tagB(b, 12, "data"); le32(b, 16, dataSize.toLong) // data first
    val f = 20 + dataSize
    tagB(b, f, "fmt "); le32(b, f + 4, 16); le16(b, f + 8, 1)
    le16(b, f + 10, channels); le32(b, f + 12, 8000L)
    le32(b, f + 16, (8000 * blockAlign).toLong); le16(b, f + 20, blockAlign)
    le16(b, f + 22, 16)
    val d = new Multimodal.HeaderCodec().decode(
      Multimodal.MediaRow("m:wav-reordered", "audio", b))
    assert(d.width == 8000 && d.height == channels && d.n_frames == samples)
  }

  test("multimodal: PNG/JPEG headers decode; ImageIO round-trip agrees") {
    val codec = new Multimodal.HeaderCodec
    // our synthesized PNG (real deflate + CRCs) decodes to its parameters
    val p = codec.decode(Multimodal.MediaRow("m:png", "image", Multimodal.synthPng(7, 5, 42)))
    assert(p.media_type == "image" && p.width == 7 && p.height == 5 && p.n_frames == 1)
    // ...and is a REAL PNG: the JDK's independent decoder accepts it
    val img = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(Multimodal.synthPng(7, 5, 42)))
    assert(img.getWidth == 7 && img.getHeight == 5)
    // files from an independent ENCODER decode correctly (corpus-credible)
    def encoded(fmt: String, w: Int, h: Int): Array[Byte] = {
      val bi = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (x <- 0 until w; y <- 0 until h) bi.setRGB(x, y, (x * 31 + y * 7) & 0xffffff)
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(bi, fmt, bos)
      bos.toByteArray
    }
    val rp = codec.decode(Multimodal.MediaRow("m:iio-png", "image", encoded("png", 13, 9)))
    assert(rp.media_type == "image" && rp.width == 13 && rp.height == 9)
    val rj = codec.decode(Multimodal.MediaRow("m:iio-jpg", "image", encoded("jpg", 12, 8)))
    assert(rj.media_type == "image" && rj.width == 12 && rj.height == 8)
    // our synthesized JPEG headers parse back too
    val j = codec.decode(Multimodal.MediaRow("m:jpg", "image", Multimodal.synthJpeg(640, 480, 7)))
    assert(j.media_type == "image" && j.width == 640 && j.height == 480)
    // ITU T.81 B.1.1.2: 0xFF fill bytes before a marker are legal
    val base = Multimodal.synthJpeg(320, 200, 3)
    val padded = base.take(2) ++ Array(0xff.toByte, 0xff.toByte) ++ base.drop(2)
    val jp = codec.decode(Multimodal.MediaRow("m:jpg-pad", "image", padded))
    assert(jp.width == 320 && jp.height == 200)
  }

  test("multimodal: malformed PNG/JPEG raise instead of wedging") {
    val codec = new Multimodal.HeaderCodec
    // PNG chunk length pointing past the buffer
    val png = Multimodal.synthPng(4, 4, 1)
    png(8) = 0x7f // IHDR length high byte -> enormous
    intercept[IllegalArgumentException](
      codec.decode(Multimodal.MediaRow("m:png-evil", "image", png)))
    // PNG whose first chunk is not IHDR
    val notIhdr = Multimodal.synthPng(4, 4, 1)
    notIhdr(12) = 'J'.toByte
    intercept[IllegalArgumentException](
      codec.decode(Multimodal.MediaRow("m:png-noihdr", "image", notIhdr)))
    // JPEG with a segment length overrunning the buffer
    val jpg = Multimodal.synthJpeg(10, 10, 1)
    jpg(4) = 0x7f // APP0 length high byte
    intercept[IllegalArgumentException](
      codec.decode(Multimodal.MediaRow("m:jpg-evil", "image", jpg)))
    // JPEG with no SOF at all
    intercept[IllegalArgumentException](
      codec.decode(Multimodal.MediaRow("m:jpg-nosof", "image",
        Array(0xff.toByte, 0xd8.toByte, 0xff.toByte, 0xd9.toByte))))
  }

  test("multimodal: truncated avih raises the malformed-container error") {
    // LIST size is internally consistent (16 bytes) but too short to hold
    // the avih fields read at a+16..a+40 — must raise IllegalArgument, not
    // ArrayIndexOutOfBounds
    val b = new Array[Byte](36)
    tagB(b, 0, "RIFF"); le32(b, 4, (b.length - 8).toLong); tagB(b, 8, "AVI ")
    tagB(b, 12, "LIST"); le32(b, 16, 16L); tagB(b, 20, "hdrl")
    tagB(b, 24, "avih"); le32(b, 28, 4L)
    val ex = intercept[IllegalArgumentException](
      new Multimodal.HeaderCodec().decode(
        Multimodal.MediaRow("m:avi-short", "video", b)))
    assert(ex.getMessage.contains("truncated avih"))
  }

  test("portable simhash near-dup equals an all-pairs Hamming scan") {
    // the pigeonhole-banding guarantee behind the q_simhash DuckDB oracle:
    // banded candidates are a superset, the dist filter is exact, so the
    // banded result must EQUAL brute force — not just approximate it
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val banded = Dedup.simhashNearDupPortable(docs, "doc_id", "text", maxDist = 10)
      .select($"id_a", $"id_b", $"dist").as[(Long, Long, Int)].collect().toSet
    val sig = Dedup.simhashSigPortable(docs, "doc_id", "text")
    val a = sig.select($"id".as("id_a"), $"sh".as("sh_a"))
    val b = sig.select($"id".as("id_b"), $"sh".as("sh_b"))
    val brute = a.crossJoin(b).filter($"id_a" < $"id_b")
      .select($"id_a", $"id_b", Dedup.hamming64($"sh_a", $"sh_b").as("dist"))
      .filter($"dist" <= 10).as[(Long, Long, Int)].collect().toSet
    assert(banded == brute && brute.nonEmpty)
  }

  test("IvfCells.round6 matches Spark round(_, 6) on a dense boundary sweep") {
    // the one float operation IvfCells performs itself; everything else
    // (dot/norm folds, division) replicates arithmetic ops exactly. Sweep
    // random cosines plus values dense around the x.xxxxxx5 rounding
    // boundary where HALF_UP representations could diverge.
    val vals = spark.range(2000000).select(
      (col("id") % 1000000).as("k"),
      when(col("id") < 1000000,
        sin(col("id").cast("double")) // pseudo-random in [-1, 1]
      ).otherwise( // boundary-dense: k*1e-7 +/- ulp-scale jitter
        (col("id") % 1000000 - 500000).cast("double") * 1e-7d +
          (col("id") % 13).cast("double") * 1e-16d).as("x"))
      .select(col("x"), round(col("x"), 6).as("r"))
      .as[(Double, Double)].collect()
    vals.foreach { case (x, r) =>
      val mine = IvfCells.round6(x)
      assert(java.lang.Double.compare(mine, r) == 0,
        s"round6($x): mine=$mine spark=$r")
    }
  }

  test("IvfCells expression matches the literal-centroid transform+sort chain") {
    // the pre-r8 assignCellsLocal column pipeline, inlined as the
    // executable contract, vs the codegen expression — same cells, same
    // order semantics (cc desc via round(cos,6), ties to smaller cell)
    ArrayDotProduct.ensure(spark)
    IvfCells.ensure(spark)
    val items = spark.read.parquet(s"$sf/embeddings.parquet")
      .select($"vec_id", $"embedding")
    val local = Similarity.ivfCentroidsPortable(items, "vec_id", "embedding", 16)
      .select($"cell".cast("int"), $"c_vec").collect()
      .map(r => (r.getInt(0), r.getSeq[Float](1).toArray))
    val nprobe = 4
    val centArr = array(local.map { case (cell, vec) =>
      struct(lit(cell).as("cell"), typedLit(vec).as("c_vec"),
        lit(math.max(math.sqrt(vec.map(x => x.toDouble * x.toDouble).sum), 1e-12))
          .as("c_nrm"))
    }: _*)
    val expected = items
      .select($"vec_id", $"embedding".as("__vec"),
        Similarity.nrm($"embedding").as("__nrm"))
      .select($"vec_id",
        explode(slice(reverse(array_sort(transform(centArr, c => {
          val cc = call_function("graft_dot", $"__vec", c("c_vec")) /
            ($"__nrm" * c("c_nrm"))
          struct(round(cc, 6).as("cc"), (-c("cell")).as("nc"))
        }))), 1, nprobe)).as("__top"))
      .select($"vec_id", (-$"__top"("nc")).as("cell"))
      .as[(Long, Int)].collect().toSet
    val cnrms = local.map { case (_, vec) =>
      math.max(math.sqrt(vec.map(x => x.toDouble * x.toDouble).sum), 1e-12) }
    val got = items.select($"vec_id",
        explode(call_function("graft_ivf_cells", $"embedding",
          typedLit(local.map(_._1)), typedLit(local.map(_._2)), typedLit(cnrms),
          lit(nprobe), lit(true))).as("cell"))
      .as[(Long, Int)].collect().toSet
    assert(got == expected && got.nonEmpty)
  }

  test("RepetitionStats projection matches the explode+groupBy+window form") {
    // the pre-r8 shape, inlined as the executable contract (the DuckDB
    // q_repetition oracle recomputes the same tallies its own way)
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select($"doc_id", regexp_replace($"text", " line ", "\n").as("text"))
      .union(Seq(
        (900001L, ""), (900002L, "   \n  \n\t"), (900003L, "a b a b a b"),
        (900004L, "x\nx\nx\n  x  \n\ty\t"), (900005L, "solo"),
        (900006L, "b a\nb a\nc d c d")).toDF("doc_id", "text"))
    val base = docs.select($"doc_id".as("id"), $"text",
      length(regexp_replace($"text", "\\s", "")).as("nw"))
    val lineCounts = base
      .select($"id", explode(split($"text", "\n")).as("l0"))
      .select($"id", trim($"l0").as("l"))
      .filter(length($"l") > 0)
      .groupBy($"id", $"l")
      .agg(count(lit(1)).as("c"), length($"l").cast("long").as("len"))
    val lineAgg = lineCounts.groupBy($"id").agg(
      round(lit(1.0d) - count(lit(1)).cast("double") / sum($"c"), 4)
        .as("dup_line_frac"),
      round(sum(($"c" - 1) * $"len").cast("double") /
        greatest(sum($"c" * $"len"), lit(1L)), 4).as("dup_line_char_frac"))
    val bigramCounts = base
      .select($"id", explode(WordShingles.column(
        split(lower(trim($"text")), "\\s+"), 2)).as("bg"))
      .groupBy($"id", $"bg").agg(count(lit(1)).as("c"))
    val topBigram = bigramCounts
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy($"id")
          .orderBy($"c".desc, $"bg".asc)))
      .filter($"rn" === 1)
      .select($"id", $"bg".as("top_bigram"), $"c".as("top_c"))
    val expected = base.select($"id", $"nw")
      .join(lineAgg, Seq("id"), "left").join(topBigram, Seq("id"), "left")
      .select($"id",
        coalesce($"dup_line_frac", lit(0.0d)).as("dup_line_frac"),
        coalesce($"dup_line_char_frac", lit(0.0d)).as("dup_line_char_frac"),
        coalesce($"top_bigram", lit("")).as("top_bigram"),
        coalesce(round($"top_c" * length($"top_bigram").cast("double") /
          greatest($"nw", lit(1)), 4), lit(0.0d)).as("top_bigram_frac"))
      .as[(Long, Double, Double, String, Double)].collect()
      .map { case (k, a, b, c, d) => k -> (a, b, c, d) }.toMap
    val got = TextOps.repetitionSignals(docs, "doc_id", "text")
      .as[(Long, Double, Double, String, Double)].collect()
      .map { case (k, a, b, c, d) => k -> (a, b, c, d) }.toMap
    assert(got == expected && got.nonEmpty)
    assert(got(900003L)._3 == "a b" || got(900003L)._3 == "b a") // sanity: a real bigram won
  }

  test("ShingleHashes / WindowFps match the shingle+md5+conv builtin chain") {
    // executable contract for both one-pass hash loops: distinct shingle
    // hashes == array_distinct(graft_shingles) -> md5/conv per element;
    // ordered window fps == graft_shingles -> md5/conv per element
    // (what the DuckDB ngram/substring/decontaminate oracles recompute)
    ShingleHashes.ensure(spark)
    WindowFps.ensure(spark)
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select($"doc_id", $"text")
      .union(Seq((900001L, ""), (900002L, "two tokens"), (900003L, "a b c"),
        (900004L, "dup dup dup dup dup")).toDF("doc_id", "text"))
      .select($"doc_id", split(lower(trim($"text")), "\\s+").as("tk"))
    for (k <- Seq(3, 13, 20)) {
      val expShingle = docs.select($"doc_id",
        transform(array_distinct(WordShingles.column($"tk", k)),
          s => conv(substring(md5(s), 1, 15), 16, 10).cast("long")).as("hs"))
        .as[(Long, Seq[Long])].collect().toMap
      val gotShingle = docs.select($"doc_id",
        call_function("graft_shingle_hashes", $"tk", lit(k)).as("hs"))
        .as[(Long, Seq[Long])].collect().toMap
      assert(gotShingle == expShingle, s"shingle hashes diverge at k=$k")
      val expFps = docs.select($"doc_id",
        transform(WordShingles.column($"tk", k),
          s => conv(substring(md5(s), 1, 15), 16, 10).cast("long")).as("fps"))
        .as[(Long, Seq[Long])].collect().toMap
      val gotFps = docs.select($"doc_id",
        call_function("graft_window_fps", $"tk", lit(k)).as("fps"))
        .as[(Long, Seq[Long])].collect().toMap
      assert(gotFps == expFps, s"window fps diverge at k=$k")
    }
  }

  test("RhpSigs projection is bit-identical to the literal-weight aggregate form") {
    // the pre-r8 aggregate pipeline, inlined as the executable contract:
    // posexplode components -> floor(x * 2^20) -> tables×bits literal
    // mdWeight sums -> sign bits (what the DuckDB q_ann_lsh oracle
    // recomputes from its own md5)
    val (bits, tables, dim) = (12, 4, 64)
    val items = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select($"vec_id", $"embedding")
    val dims = items.select($"vec_id".as("id"), posexplode($"embedding"))
      .select($"id", $"pos".as("d"),
        floor($"col".cast("double") * lit(1048576.0d)).as("xi"))
    val sums = for (t <- 0 until tables; b <- 0 until bits) yield {
      val w = typedLit((0 until dim).map(dd => Similarity.mdWeight(t, b, dd)))
      sum($"xi" * element_at(w, $"d" + 1)).as(s"p_${t}_$b")
    }
    val expected = dims.groupBy($"id").agg(sums.head, sums.tail: _*)
      .select($"id", posexplode(array((0 until tables).map { t =>
        (0 until bits).map(b =>
          when(col(s"p_${t}_$b") > 0, lit(1L << b)).otherwise(lit(0L)))
          .reduce[Column](_ bitwiseOR _)
      }: _*)))
      .select($"id", $"pos".as("tbl"), $"col".as("sig"))
      .as[(Long, Int, Long)].collect().toSet
    val got = Similarity.rhpSigTablePortable(items, "vec_id", "embedding", bits, tables)
      .as[(Long, Int, Long)].collect().toSet
    assert(got == expected && got.nonEmpty)
  }

  test("MinHashSig projection is bit-identical to the explode+n-min aggregate form") {
    // the pre-r8 aggregate pipeline, inlined as the executable contract:
    // codegen shingles -> md5 h1/h2 -> 16 Kirsch-Mitzenmacher min
    // aggregates (the DuckDB q_minhash_* oracles recompute this form)
    val P = 2147483647L
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select($"doc_id", $"text")
      .union(Seq((900001L, ""), (900002L, "only two"),
        (900003L, "exactly three tokens"), (900004L, " pad  a b c  ")).toDF("doc_id", "text"))
    val h = docs.select($"doc_id".as("id"),
      explode(array_distinct(WordShingles.column(
        split(lower(trim($"text")), "\\s+"), 3))).as("s"))
      .select($"id", md5($"s").as("m"))
      .select($"id",
        conv(substring($"m", 1, 15), 16, 10).cast("long").as("h1"),
        (conv(substring($"m", 16, 15), 16, 10).cast("long") % P).as("h2"))
    val expected = h.groupBy($"id")
      .agg(array((0 until 16).map(i =>
        min(($"h1" + lit(i.toLong) * $"h2") % P)): _*).as("sig"))
      .as[(Long, Seq[Long])].collect().toMap
    val got = Dedup.minhashSigPortable(docs, "doc_id", "text")
      .as[(Long, Seq[Long])].collect().toMap
    assert(got == expected && got.nonEmpty)
    // docs with < 3 tokens are absent from both forms
    assert(!got.contains(900001L) && !got.contains(900002L) && got.contains(900003L))
  }

  test("SimHash64 projection is bit-identical to the explode+vote aggregate form") {
    // the pre-r8 aggregate pipeline, inlined as the executable contract:
    // explode tokens -> md5 halves -> 64 partial-aggregating ±1 vote sums
    // -> sign bits. The codegen'd one-pass expression must reproduce every
    // signature EXACTLY (the DuckDB q_simhash oracle recomputes this form).
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select($"doc_id", $"text")
      .union(Seq((900001L, ""), (900002L, "  one  token  "),
        (900003L, "x")).toDF("doc_id", "text"))
    val toks = docs.select($"doc_id".as("id"),
      explode(split(lower(trim($"text")), "\\s+")).as("t"))
      .select($"id", md5($"t").as("m"))
      .select($"id",
        conv(substring($"m", 1, 8), 16, 10).cast("long").as("hhi"),
        conv(substring($"m", 9, 8), 16, 10).cast("long").as("hlo"))
    val votes =
      (0 until 32).map(b => sum(when($"hlo".bitwiseAND(lit(1L << b)) =!= 0L, 1L)
        .otherwise(-1L)).as(s"lo$b")) ++
      (0 until 32).map(b => sum(when($"hhi".bitwiseAND(lit(1L << b)) =!= 0L, 1L)
        .otherwise(-1L)).as(s"hi$b"))
    val expected = toks.groupBy($"id").agg(votes.head, votes.tail: _*)
      .select($"id",
        ((0 until 32).map(b => when(col(s"lo$b") > 0, lit(1L << b)).otherwise(lit(0L))) ++
         (0 until 32).map(b => when(col(s"hi$b") > 0, lit(1L << (b + 32))).otherwise(lit(0L))))
          .reduce[Column](_ bitwiseOR _).as("sh"))
      .as[(Long, Long)].collect().toMap
    val got = Dedup.simhashSigPortable(docs, "doc_id", "text")
      .as[(Long, Long)].collect().toMap
    assert(got == expected && got.size == expected.size && got.nonEmpty)
  }

  test("portable simhash orders relative similarity") {
    val docs = Seq(
      ("a", "alpha beta gamma delta epsilon zeta eta theta"),
      ("b", "alpha beta gamma delta epsilon zeta eta iota"),
      ("c", "one two three four five six seven eight")).toDF("id", "text")
    val m = Dedup.simhashSigPortable(docs, "id", "text")
      .as[(String, Long)].collect().toMap
    def ham(x: Long, y: Long) = java.lang.Long.bitCount(x ^ y)
    assert(ham(m("a"), m("b")) < ham(m("a"), m("c")))
  }

  test("ngramJaccardJoin blocks on rare shingles and scores exactly") {
    val base = (0 until 30).map(i => s"w$i").mkString(" ")
    val docs = Seq(
      (1L, base),
      (2L, base + " tail"), // near-dup of 1: 28 shared of 29 union shingles
      (3L, (0 until 30).map(i => s"z$i").mkString(" ")), // unrelated
      (4L, (0 until 30).map(i => s"z$i").mkString(" ") + " end")) // near-dup of 3
      .toDF("doc_id", "text")
    val got = Dedup.ngramJaccardJoin(docs, "doc_id", "text", maxDf = 10, minJaccard = 0.5)
      .select($"id_a", $"id_b", $"jaccard").as[(Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(got.keySet == Set((1L, 2L), (3L, 4L)))
    assert(math.abs(got((1L, 2L)) - 28.0 / 29.0) < 1e-3)
  }

  test("html strip: tags/script/style/comments drop, entities decode, malformed survives") {
    val rows = Seq(
      // full shell round-trips to the body text
      "<html><head><style>h1 {x:1}</style><script>if (a<b && c>d) f();</script></head>" +
        "<body><h1>T</h1><p>hello world</p></body></html>",
      // tag boundaries become word boundaries, never fused
      "a</p><p>b",
      // entity decode incl. double-escape: &amp;lt; is literal &lt;
      "x &amp;lt; y &nbsp; &quot;q&quot; &#39;s &gt;",
      // malformed: unclosed tag (no >) stays literal; an unclosed comment
      // SURVIVES verbatim (the regex needs a closing --> to match)
      "<div class=\"x hello",
      "keep <!-- never closed so the rest drops",
      // SCRIPT case-insensitive, multiline content
      "<SCRIPT>\nvar s = \"</p>\";\n</SCRIPT>after")
      .zipWithIndex.map { case (h, i) => (i.toLong, h) }.toDF("id", "html")
    val got = rows.select($"id", TextOps.htmlStrip($"html").as("s"))
      .as[(Long, String)].collect().toMap
    assert(got(0L) == "T hello world")
    assert(got(1L) == "a b")
    assert(got(2L) == "x &lt; y \"q\" 's >")
    assert(got(3L) == "<div class=\"x hello")
    assert(got(4L) == "keep <!-- never closed so the rest drops")
    assert(got(5L) == "after")
  }

  test("substring dedup: planted 30-token shared run merges to one exact span") {
    val common = (0 until 30).map(i => s"c$i").mkString(" ")
    val docs = Seq(
      (1L, (0 until 5).map(i => s"p$i").mkString(" ") + " " + common + " " +
        (0 until 5).map(i => s"s$i").mkString(" ")), // common at tokens 6..35
      (2L, (0 until 10).map(i => s"q$i").mkString(" ") + " " + common + " " +
        (0 until 3).map(i => s"t$i").mkString(" ")), // common at tokens 11..40
      (3L, (0 until 40).map(i => s"u$i").mkString(" ")), // unrelated
      // 4/5 share only a 15-token run: below window=20, must be invisible
      (4L, (0 until 15).map(i => s"v$i").mkString(" ") + " " +
        (0 until 10).map(i => s"x$i").mkString(" ")),
      (5L, (0 until 15).map(i => s"v$i").mkString(" ") + " " +
        (0 until 10).map(i => s"y$i").mkString(" ")))
      .toDF("doc_id", "text")
    val spans = Dedup.substringDedup(docs, "doc_id", "text").collect()
    assert(spans.length == 1)
    val r = spans(0)
    assert(r.getAs[Long]("id_a") == 1L && r.getAs[Long]("id_b") == 2L)
    assert(r.getAs[Long]("a_start") == 6L && r.getAs[Long]("a_end") == 36L)
    assert(r.getAs[Long]("b_start") == 11L && r.getAs[Long]("b_end") == 41L)
    assert(r.getAs[Long]("n_windows") == 11L) // 30 - 20 + 1 aligned windows
  }

  test("substring dedup: df-cap drops boilerplate windows; two runs = two spans") {
    // a 20-token boilerplate run planted into 25 docs: df = 25 > maxDf = 20
    // -> the posting list is dropped, no pair fans out
    val boiler = (0 until 20).map(i => s"b$i").mkString(" ")
    val many = (1L to 25L).map(i =>
      (i, s"head$i " + boiler + s" tail$i")).toDF("doc_id", "text")
    assert(Dedup.substringDedup(many, "doc_id", "text", maxDf = 20).isEmpty)
    // raising the cap above the df admits the pairs again
    assert(!Dedup.substringDedup(many, "doc_id", "text", maxDf = 30).isEmpty)
    // two disjoint shared runs in one doc pair merge into two separate spans
    val runA = (0 until 22).map(i => s"ra$i").mkString(" ")
    val runB = (0 until 25).map(i => s"rb$i").mkString(" ")
    val two = Seq(
      (1L, runA + " " + (0 until 8).map(i => s"m$i").mkString(" ") + " " + runB),
      (2L, runB + " " + (0 until 4).map(i => s"n$i").mkString(" ") + " " + runA))
      .toDF("doc_id", "text")
    val spans = Dedup.substringDedup(two, "doc_id", "text")
      .orderBy("a_start").collect()
    assert(spans.length == 2)
    // runA: doc1 tokens 1..22, doc2 tokens 30..51
    assert(spans(0).getAs[Long]("a_start") == 1L && spans(0).getAs[Long]("a_end") == 23L)
    assert(spans(0).getAs[Long]("b_start") == 30L && spans(0).getAs[Long]("b_end") == 52L)
    // runB: doc1 tokens 31..55, doc2 tokens 1..25
    assert(spans(1).getAs[Long]("a_start") == 31L && spans(1).getAs[Long]("a_end") == 56L)
    assert(spans(1).getAs[Long]("b_start") == 1L && spans(1).getAs[Long]("b_end") == 26L)
  }

  test("substring dedup: intra-document repeats do not mask cross-document duplicates") {
    // doc 1 repeats a 20-token run 21 times (window occurrences >> maxDf);
    // doc 2 shares it once. df counts DISTINCT documents (= 2), so the
    // pair must still surface — r6 self-review #3
    val run = (0 until 20).map(i => s"r$i").mkString(" ")
    val docs = Seq(
      (1L, (0 until 21).map(_ => run).mkString(" ")),
      (2L, "z0 z1 " + run + " z2 z3")).toDF("doc_id", "text")
    val spans = Dedup.substringDedup(docs, "doc_id", "text").collect()
    assert(spans.nonEmpty, "intra-doc repetition suppressed the cross-doc duplicate")
    assert(spans.forall(r => r.getAs[Long]("id_a") == 1L && r.getAs[Long]("id_b") == 2L))
  }

  test("substring dedup clean: later doc loses the shared run, earlier keeps it") {
    val common = (0 until 25).map(i => s"c$i").mkString(" ")
    val docs = Seq(
      (1L, "p0 p1 " + common + " s0 s1"), // common at tokens 3..27
      (2L, "q0 " + common + " t0"), // common at tokens 2..26 -> cut here
      (3L, (0 until 30).map(i => s"u$i").mkString(" "))) // untouched
      .toDF("doc_id", "text")
    val got = Dedup.substringDedupClean(docs, "doc_id", "text")
      .select($"id", $"text_clean", $"n_cut").as[(Long, String, Long)]
      .collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(got(1L) == ("p0 p1 " + common + " s0 s1", 0L)) // keeper intact
    assert(got(2L) == ("q0 t0", 25L)) // exactly the shared run removed
    assert(got(3L)._2 == 0L)
  }

  test("minhash clusters: transitive chain collapses to one canon, outsider absent") {
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    val docs = Seq(
      (5L, base), // chain 5~7~9 must all canonize to 5
      (7L, base + " ok"),
      (9L, base + " ok yes"),
      (3L, "completely different words about spark dataframes and shuffles everywhere"))
      .toDF("doc_id", "text")
    val got = Dedup.minhashClusters(docs, "doc_id", "text")
      .as[(Long, Long)].collect().toMap
    assert(got.keySet == Set(5L, 7L, 9L)) // outsider 3 has no pair -> absent
    assert(got.values.toSet == Set(5L)) // one cluster, min id canon
  }

  test("repetition signals: dup lines and top bigram computed per doc") {
    val docs = Seq(
      (1L, "spam spam\nham eggs\nspam spam\nspam spam"), // 4 lines, 1 distinct dup x3
      (2L, "all lines differ\nno repeats here"),
      (3L, "")) // empty doc -> all-zero signals via the left join
      .toDF("doc_id", "text")
    val got = TextOps.repetitionSignals(docs, "doc_id", "text")
      .collect().map(r => r.getAs[Long]("id") ->
        (r.getAs[Double]("dup_line_frac"), r.getAs[Double]("dup_line_char_frac"),
          r.getAs[String]("top_bigram"), r.getAs[Double]("top_bigram_frac"))).toMap
    // doc 1: 4 lines, 2 distinct -> 1 - 2/4 = 0.5; dup chars = 2*9 over
    // (3*9 + 8) = 18/35; top bigram "spam spam" x4 (bigrams cross line
    // breaks: tokenization is \s+), 4*9 chars over 31 non-ws (overlap can
    // push the fraction past 1 - it is a repetition score, not a share)
    assert(got(1L)._1 == 0.5 && got(1L)._2 == math.rint(18.0 / 35 * 10000) / 10000)
    assert(got(1L)._3 == "spam spam" && got(1L)._4 == math.rint(36.0 / 31 * 10000) / 10000)
    assert(got(2L)._1 == 0.0 && got(2L)._2 == 0.0)
    assert(got(3L) == ((0.0, 0.0, "", 0.0)))
  }

  test("pii redaction: each category redacts and counts; clean text untouched") {
    val docs = Seq(
      (1L, "mail a.b+c@ex-corp.io or x@y.co, see https://a.b/c?d=1 at 192.168.0.1 call +1 (415) 555-0042"),
      (2L, "no pii in this perfectly ordinary sentence"))
      .toDF("doc_id", "text")
    val got = docs.select(col("doc_id") +: TextOps.redactPii(col("text")): _*)
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    val t1 = got(1L).getAs[String]("text_redacted")
    assert(t1 == "mail <EMAIL> or <EMAIL>, see <URL> at <IP> call <PHONE>")
    assert(got(1L).getAs[Long]("n_url") == 1 && got(1L).getAs[Long]("n_email") == 2 &&
      got(1L).getAs[Long]("n_ip") == 1 && got(1L).getAs[Long]("n_phone") == 1)
    assert(got(2L).getAs[String]("text_redacted") == "no pii in this perfectly ordinary sentence")
    assert(Seq("n_url", "n_email", "n_ip", "n_phone").forall(c => got(2L).getAs[Long](c) == 0))
  }

  test("ArrayJaccard merge equals the array_intersect/array_union column form") {
    // executable contract for the one-pass merge (what the ngram verify
    // stage now runs): identical round-4 value to the set-builtin chain,
    // over real shingle-hash arrays plus adversarial edges (empty/one
    // side empty, identical, disjoint, duplicates, unsorted input)
    ArrayJaccard.ensure(spark)
    ShingleHashes.ensure(spark)
    val real = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(split(lower(trim($"text")), "\\s+").as("tk"))
      .select(call_function("graft_shingle_hashes", $"tk", lit(3)).as("sh"))
      .limit(40).as[Seq[Long]].collect().toSeq
    val edges = Seq(Seq.empty[Long], Seq(5L), Seq(5L, 5L, 5L),
      Seq(9L, 1L, 9L, 3L), Seq(3L, 1L), Seq(Long.MinValue, Long.MaxValue, 0L))
    val pool = (real ++ edges).zipWithIndex
    val pairs = (for ((a, i) <- pool; (b, j) <- pool if j >= i)
      yield (a, b)).toDF("sh_a", "sh_b")
    val exp = pairs.select(
      round(size(array_intersect($"sh_a", $"sh_b")).cast("double") /
        greatest(size(array_union($"sh_a", $"sh_b")), lit(1)), 4))
      .as[Double].collect().toSeq
    val got = pairs.select(call_function("graft_jaccard", $"sh_a", $"sh_b"))
      .as[Double].collect().toSeq
    assert(got == exp)
  }

  test("graft_dot returns null on ragged arrays, matching the HOF form") {
    ArrayDotProduct.ensure(spark)
    val df = Seq(
      (Array(1.0f, 2.0f, 3.0f), Array(4.0f, 5.0f)), // ragged -> null
      (Array(1.0f, 2.0f, 0.0f), Array(4.0f, 5.0f, 6.0f))) // equal -> 14
      .toDF("a", "b")
      .select(
        call_function("graft_dot", $"a", $"b").as("fast"),
        Similarity.dot($"a", $"b").as("hof"))
    val rows = df.collect()
    assert(rows(0).isNullAt(0) && rows(0).isNullAt(1)) // both null on ragged
    assert(rows(1).getDouble(0) == 14.0 && rows(1).getDouble(1) == 14.0)
    // interpreted path (no codegen) agrees
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.sql.types.{ArrayType, FloatType}
    def lit3(xs: Array[Float]) =
      Literal(ArrayData.toArrayData(xs), ArrayType(FloatType, containsNull = false))
    assert(ArrayDotProduct(lit3(Array(1f, 2f)), lit3(Array(1f, 2f, 3f))).eval(null) == null)
    assert(ArrayDotProduct(lit3(Array(1f, 2f)), lit3(Array(3f, 4f))).eval(null) == 11.0d)
  }

  test("graft_jaccard / graft_dot reject wrong argument types at analysis") {
    ArrayJaccard.ensure(spark)
    ArrayDotProduct.ensure(spark)
    for (q <- Seq(
        "SELECT graft_jaccard(array(1.5D), array(2.5D))",
        "SELECT graft_jaccard(array(1L), 'x')",
        "SELECT graft_dot(array(1L), array(2L))")) {
      val e = intercept[org.apache.spark.sql.AnalysisException](spark.sql(q).collect())
      assert(e.getMessage.contains("expects array<"), q)
    }
    // accepted types still analyze
    assert(spark.sql("SELECT graft_jaccard(array(1L, 2L), array(2L))").head().getDouble(0) == 0.5)
    assert(spark.sql("SELECT graft_dot(array(1.0D, 2.0D), array(CAST(3 AS FLOAT), CAST(4 AS FLOAT)))")
      .head().getDouble(0) == 11.0)
  }
}
