package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.{Dedup, Sampling, Similarity, TextOps}
import graft.kg.ConnectedComponents

/** The operator showcase the driver's DuckDB oracle checks at sf0.01.
  *
  * Each query is the relational kernel of an operator from SURVEY.md §2 (the
  * SHACL engine's joins/aggregations) or a training-data-pipeline operator
  * (dedup/similarity/text analysis), expressed over the driver-provided
  * parquet tables. Aggregates avoid raw double sums (cents-as-BIGINT or
  * exact counts) so Spark and DuckDB hash identically.
  */
object Queries {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  type Q = (SparkSession, String) => DataFrame

  // --------------------------------------------------------------------
  // SHACL operator kernels (SURVEY §2.3-2.5) over TPC-H-ish tables
  // --------------------------------------------------------------------

  /** sh:targetSubjectsOf — distinct subjects of a predicate (§2.3). */
  val qTargetSubjectsOf: Q = (s, d) =>
    t(s, d, "orders").select(col("o_custkey")).distinct()

  /** sh:minCount with the essential LEFT JOIN (zero-valued foci report). */
  val qMinCount: Q = (s, d) => {
    val c = t(s, d, "customer"); val o = t(s, d, "orders")
    c.join(o, c("c_custkey") === o("o_custkey"), "left")
      .groupBy(col("c_custkey")).agg(count(col("o_orderkey")).as("cnt"))
      .filter(col("cnt") < 1).select(col("c_custkey"))
  }

  /** sh:maxCount — hash agg + filter (partial agg map-side for free). */
  val qMaxCount: Q = (s, d) =>
    t(s, d, "orders").groupBy(col("o_custkey")).agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") > 20)

  /** sh:class — anti-join against the instance set (§2.5 #1). */
  val qClassAnti: Q = (s, d) => {
    val li = t(s, d, "lineitem")
    val bigParts = t(s, d, "part").filter(col("p_size") > 25).select(col("p_partkey"))
    li.join(bigParts, li("l_partkey") === bigParts("p_partkey"), "left_anti")
      .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"))
  }

  /** sh:pattern — unanchored regex search, negated (§2.5 #12). */
  val qPattern: Q = (s, d) =>
    t(s, d, "part").filter(!col("p_name").rlike("r.*d")).select(col("p_partkey"), col("p_name"))

  /** sh:minExclusive/maxInclusive — typed range filters (§2.5 #6-9). */
  val qRange: Q = (s, d) =>
    t(s, d, "lineitem").filter(col("l_quantity") < 3 || col("l_quantity") >= 48)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))

  /** sh:uniqueLang — groupBy(focus, tag) having count>=2 (§2.5 #14). */
  val qUniqueLangKernel: Q = (s, d) =>
    t(s, d, "orders").groupBy(col("o_custkey"), col("o_orderpriority"))
      .agg(count(lit(1)).as("cnt")).filter(col("cnt") >= 2)

  /** sh:equals — full-outer symmetric difference (§2.5 #15). */
  val qEqualsSymdiff: Q = (s, d) => {
    val c = t(s, d, "customer").select(col("c_nationkey").as("ck")).distinct()
    val sup = t(s, d, "supplier").select(col("s_nationkey").as("sk")).distinct()
    c.join(sup, c("ck") === sup("sk"), "full_outer")
      .filter(col("ck").isNull || col("sk").isNull)
      .select(coalesce(col("ck"), col("sk")).as("nationkey"),
        col("ck").isNull.as("missing_in_customer"))
  }

  /** sh:disjoint — semi-join intersection (§2.5 #16). */
  val qDisjointSemi: Q = (s, d) => {
    val c = t(s, d, "customer").select(col("c_nationkey").as("nationkey")).distinct()
    val sup = t(s, d, "supplier").select(col("s_nationkey").as("nationkey")).distinct()
    c.join(sup, Seq("nationkey"), "left_semi")
  }

  /** sh:lessThan — per-focus θ-join pair comparison (§2.5 #17). */
  val qLessThanPairs: Q = (s, d) => {
    val li = t(s, d, "lineitem"); val o = t(s, d, "orders")
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .filter(!(o("o_orderdate") < li("l_shipdate")))
      .select(col("l_orderkey"), col("l_linenumber"))
  }

  /** SHACL path sequence (§2.4) — 2-hop join + exact cents aggregation. */
  val qPathSeqAgg: Q = (s, d) => {
    val c = t(s, d, "customer"); val o = t(s, d, "orders"); val li = t(s, d, "lineitem")
    c.join(o, c("c_custkey") === o("o_custkey"))
      .join(li, o("o_orderkey") === li("l_orderkey"))
      .groupBy(col("c_custkey"))
      .agg(sum(round(col("l_extendedprice") * 100).cast("bigint")).as("revenue_cents"),
        count(lit(1)).as("n_items"))
  }

  /** sh:alternativePath — union + distinct (§2.4). */
  val qPathAlt: Q = (s, d) =>
    t(s, d, "customer").select(col("c_nationkey").as("nationkey"))
      .unionByName(t(s, d, "supplier").select(col("s_nationkey").as("nationkey")))
      .distinct()

  /** sh:inversePath — reversed join direction, then aggregate (§2.4). */
  val qPathInverse: Q = (s, d) => {
    val r = t(s, d, "region"); val n = t(s, d, "nation"); val sup = t(s, d, "supplier")
    r.join(n, n("n_regionkey") === r("r_regionkey"))
      .join(sup, sup("s_nationkey") === n("n_nationkey"))
      .groupBy(col("r_regionkey")).agg(count(lit(1)).as("n_sup"))
  }

  /** sh:zeroOrMorePath — iterative frontier-join transitive closure over a
    * derived parent edge (p_partkey -> p_partkey/2), seeded at node 1
    * (§2.4; the engine's closure kernel on real data). */
  val qClosure: Q = (s, d) => {
    import s.implicits._
    // edge table materialized ONCE: the fixpoint joins against in-memory
    // blocks instead of re-scanning the parquet every round (~15 rounds at
    // sf0.1 — guide §2.4, remove repeated passes)
    val edges = t(s, d, "part")
      .select((col("p_partkey") / 2).cast("bigint").as("node"), col("p_partkey").as("child"))
      .filter(col("node") >= 1)
      .localCheckpoint()
    // the halving tree is log2(parts) deep: 64 steps bound any key range
    graft.shacl.Closure(Seq(1L).toDF("node"), 64, "q_closure") { (f, _) =>
      f.join(edges, "node").select(col("child").as("node"))
    }
  }

  /** Connected components (canonicalization kernel) over a deterministic
    * chain: edge (k, k+1) unless k % 10 == 9 -> components are decades;
    * the Spark side runs the real large-star/small-star algorithm. */
  val qConnectedComponents: Q = (s, d) => {
    val keys = t(s, d, "part").select(col("p_partkey"))
    val edges = keys.filter(col("p_partkey") % 10 =!= 9)
      .select(col("p_partkey").as("src"), (col("p_partkey") + 1).as("dst"))
    // the part keys cover every edge endpoint (dst = key + 1 of a key with
    // key % 10 != 9, i.e. the next key), so the fused finale applies
    ConnectedComponents.runWithVertices(s, edges, keys.select(col("p_partkey").as("id")))
  }

  // --------------------------------------------------------------------
  // Training-data pipeline operators over documents / embeddings / events
  // --------------------------------------------------------------------

  /** Mention detection kernel: tokenize + filter + count (§ KG pipeline). */
  val qMentionTokens: Q = (s, d) =>
    t(s, d, "documents")
      .select(explode(split(trim(col("text")), "\\s+")).as("token"))
      .filter(length(col("token")) >= 6)
      .groupBy(col("token")).agg(count(lit(1)).as("cnt"))

  /** Token counting. */
  val qTokenCount: Q = (s, d) =>
    t(s, d, "documents").select(col("doc_id"), TextOps.tokenCount(col("text")).as("n_tokens"))

  /** Quality scoring (punct/stopword ratios). */
  val qQuality: Q = (s, d) =>
    t(s, d, "documents").select(col("doc_id"),
      TextOps.punctRatio(col("text")).as("punct_ratio"),
      TextOps.stopwordRatio(col("text")).as("stop_ratio"))

  /** Language-ID accuracy matrix vs the gold lang column. */
  val qLangId: Q = (s, d) =>
    t(s, d, "documents").select(col("lang"), TextOps.langId(col("text")).as("predicted"))
      .groupBy(col("lang"), col("predicted")).agg(count(lit(1)).as("cnt"))

  /** Document fingerprinting. */
  val qFingerprint: Q = (s, d) =>
    t(s, d, "documents").select(col("doc_id"), TextOps.fingerprint(col("text")).as("fp"))

  /** Gopher-style composite quality filter: repetition / word-length /
    * symbol signals + the keep verdict, one codegen'd projection. */
  val qGopher: Q = (s, d) =>
    t(s, d, "documents").select(col("doc_id"),
      TextOps.tokenCount(col("text")).cast("long").as("wc"),
      TextOps.meanWordLen(col("text")).as("mwl"),
      TextOps.symbolRatio(col("text")).as("symr"),
      TextOps.dupTrigramFraction(col("text")).as("dup3"),
      TextOps.gopherKeep(col("text")).cast("long").as("keep"))

  /** HTML/boilerplate strip: wrap each document in a deterministic crawl-
    * page shell (head/style/script, comment, heading, entity-escaped body)
    * and strip it back to clean text. Stripping a known wrapper makes the
    * operator end-to-end checkable: the SAME wrap + strip chain recomputes
    * in DuckDB, so text_clean is hash-compared character-for-character. */
  val qHtmlStrip: Q = (s, d) => {
    val html = concat(
      lit("<html><head><style>p { color: red; }</style>"),
      lit("<script type=\"text/javascript\">if (x < 2 && y > 1) { alert(\"&amp;\"); }</script>"),
      lit("</head><body><!-- crawl boilerplate --><h1>Doc "),
      col("doc_id").cast("string"),
      lit("</h1><p>"), replace(col("text"), lit(" "), lit("&nbsp;")),
      lit("</p></body></html>"))
    t(s, d, "documents").select(col("doc_id"),
        TextOps.htmlStrip(html).as("text_clean"))
      .withColumn("n_tokens", TextOps.tokenCount(col("text_clean")).cast("long"))
  }

  /** Exact dedup groups (may be empty at small sf — that is the answer). */
  val qDedupExact: Q = (s, d) =>
    Dedup.exact(t(s, d, "documents"), "doc_id", "text").select(col("fp"), col("cnt"))

  /** MinHash+LSH near-dup candidates (banded signature join) over the
    * PORTABLE md5/double-hash signature — the full pipeline (shingles,
    * permutations, banding, bucket join) recomputes in DuckDB, so this is
    * hash-checked; the xxhash64 fast path stays the production default
    * with its own recall tests. */
  val qMinhashLsh: Q = (s, d) =>
    Dedup.minhashLshPortable(t(s, d, "documents"), "doc_id", "text")

  /** SimHash near-dup pairs (chunk-bucketed Hamming) over the PORTABLE
    * md5-derived signature: pigeonhole banding makes the banded result
    * exactly equal an all-pairs Hamming scan, which is what the DuckDB
    * oracle computes — so this is a full rows+schema+hash check, not a
    * rows-only one. The xxhash64 fast path stays the production default
    * and is equality-tested against this one in OpsSpec. */
  val qSimhash: Q = (s, d) =>
    Dedup.simhashNearDupPortable(t(s, d, "documents"), "doc_id", "text", maxDist = 10)
      .select(col("id_a"), col("id_b"), col("dist").cast("long").as("dist"))

  /** Exact n-gram Jaccard join via the df-capped inverted index (fully
    * SQL-expressible -> DuckDB-oracled; the LSH-candidate verify variant
    * stays covered by OpsSpec recall tests). */
  val qNgramJaccard: Q = (s, d) =>
    Dedup.ngramJaccardJoin(t(s, d, "documents"), "doc_id", "text")

  /** Sequence-level substring dedup: maximal shared token runs >= 20 tokens
    * across documents (window fingerprints -> df-capped bucket join ->
    * diagonal span merge). Fully SQL-expressible (md5-derived portable
    * hashes + window functions) -> DuckDB hash-checked end-to-end. */
  val qSubstringDedup: Q = (s, d) =>
    Dedup.substringDedup(t(s, d, "documents"), "doc_id", "text")

  /** Substring-dedup REMOVAL: apply the detected spans with the keep-one
    * (lowest doc id wins) policy; output is the cleaned corpus. Same
    * SQL-expressible machinery + a token-filter pass -> DuckDB-checked. */
  val qSubstringClean: Q = (s, d) =>
    Dedup.substringDedupClean(t(s, d, "documents"), "doc_id", "text")

  /** Synthetic trained-tokenizer stand-in shared by the pre-tokenized
    * queries: token id = md5-derived 60-bit hash of each word — an
    * injective (modulo 2^-60) id assignment both engines compute
    * bit-identically, so the array<long> column behaves exactly like real
    * tokenizer output (ids preserve token equality). */
  private def synthTokenIds: Column =
    transform(split(lower(trim(col("text"))), "\\s+"),
      tok => conv(substring(md5(tok), 1, 15), 16, 10).cast("long"))

  /** Pre-tokenized substring dedup (VERDICT r6 #3): the array<long>
    * overload over synthetic token ids. Because the id mapping preserves
    * token equality, the detected spans coincide with the text path's —
    * and the whole pipeline (ids included) recomputes in DuckDB. */
  val qSubstringDedupTok: Q = (s, d) =>
    // widen BEFORE the md5-per-token projection: the raw scan is a single
    // parquet split, so a post-projection repartition (what the widen
    // inside the operator would do) would hash every token on one core
    // and only then spread the rows — here only the raw rows shuffle and
    // the tokenizer runs on all cores (guide §2: parallelize the per-task
    // work, not just the shuffle)
    Dedup.substringDedupTokens(
      ops.widen(t(s, d, "documents")).select(col("doc_id"), synthTokenIds.as("ids")),
      "doc_id", "ids")

  /** Pre-tokenized benchmark decontamination: the 13-gram membership test
    * over the same synthetic token-id column, bench split as
    * q_decontaminate. */
  val qDecontaminateTok: Q = (s, d) => {
    // widen before the md5-per-token projection — same single-split-scan
    // rationale as q_substring_dedup_tok
    val docs = ops.widen(t(s, d, "documents")).select(col("doc_id"), synthTokenIds.as("ids"))
    val isBench = col("doc_id") % 7 === 0 && col("doc_id") < 70000L
    Dedup.decontaminateTokens(docs.filter(!isBench), docs.filter(isBench),
      "doc_id", "ids", "doc_id", "ids")
  }

  /** Keep-one canonicalization of MinHash near-dup clusters (detect ->
    * cluster -> pick survivor): LSH candidate pairs -> large-star/small-star
    * connected components -> min doc id per cluster. Whole chain is the
    * portable signature + plain joins, so DuckDB recomputes it (recursive
    * min-reachability CTE) and the closure itself is hash-checked. */
  val qMinhashCluster: Q = (s, d) =>
    Dedup.minhashClusters(t(s, d, "documents"), "doc_id", "text")

  /** Gopher repetition signals (line-level + top-bigram). The corpus is
    * single-line, so the query first derives a deterministic multi-line
    * text IN BOTH ENGINES (every " line " token becomes a newline — the
    * tiny vocabulary makes derived lines repeat, which is the signal), then
    * runs the table-form repetition operator over it. */
  val qRepetition: Q = (s, d) => {
    val docs = t(s, d, "documents")
      .select(col("doc_id"), replace(col("text"), lit(" line "), lit("\n")).as("text"))
    TextOps.repetitionSignals(docs, "doc_id", "text")
  }

  /** PII/URL redaction: augment each document with deterministic synthetic
    * PII (same expression in both engines; email dropped when doc_id%3=0,
    * phone when doc_id%2=1, so zero-match paths are exercised), then
    * redact. The redacted text is hash-compared character-for-character
    * and the per-category counts ride along. */
  val qRedact: Q = (s, d) => {
    val aug = concat(col("text"),
      when(col("doc_id") % 3 === 0, lit(""))
        .otherwise(concat(lit(" contact u"), col("doc_id").cast("string"),
          lit("@example.com"))),
      lit(" visit https://ex.com/p/"), col("doc_id").cast("string"),
      lit(" from 10.0."), (col("doc_id") % 256).cast("string"),
      lit("."), ((col("doc_id") * 7) % 256).cast("string"),
      when(col("doc_id") % 2 === 1, lit(""))
        .otherwise(concat(lit(" call +1 415 555 "),
          lpad((col("doc_id") % 10000).cast("string"), 4, "0"))))
    t(s, d, "documents").select(
      col("doc_id") +: TextOps.redactPii(aug): _*)
  }

  /** URL canonicalization: four deterministic raw-URL variants per doc
    * exercise every rule (case, default port, fragment, utm/fbclid strip,
    * separator tidy, root slash); the canonical form recomputes
    * character-for-character in DuckDB. Path collisions (doc_id % 50)
    * make the canon column a working URL-dedup key. */
  val qUrlCanon: Q = (s, d) => {
    val raw = when(col("doc_id") % 4 === 0,
        concat(lit("HTTPS://Example.COM:443/p/"), (col("doc_id") % 50).cast("string"),
          lit("?utm_source=feed&id="), (col("doc_id") % 50).cast("string"), lit("#sec")))
      .when(col("doc_id") % 4 === 1, lit("http://Ex.ORG:80/"))
      .when(col("doc_id") % 4 === 2,
        concat(lit("http://ex.org/q?a="), (col("doc_id") % 9).cast("string"),
          lit("&utm_campaign=x&b=2")))
      .otherwise(concat(lit("https://sub.ex.org/a/b?id="),
        (col("doc_id") % 25).cast("string")))
    t(s, d, "documents").select(col("doc_id"), raw.as("url_raw"),
      TextOps.urlCanon(raw).as("url_canon"))
  }

  /** Benchmark decontamination: docs with doc_id % 7 == 0 (capped below
    * id 70,000 so the synthetic eval suite stays SMALL at any soak scale —
    * decontaminate broadcasts the bench fingerprints; the cap is a no-op
    * at every oracle/bench sf, where all ids are below it) play the eval
    * suite; every other doc is flagged iff it shares a 13-token window
    * with one of them. Fingerprints are the substring-dedup md5 hashes, so
    * hit positions and bench-doc counts recompute exactly in DuckDB. */
  val qDecontaminate: Q = (s, d) => {
    val docs = t(s, d, "documents")
    val isBench = col("doc_id") % 7 === 0 && col("doc_id") < 70000L
    Dedup.decontaminate(docs.filter(!isBench), docs.filter(isBench),
      "doc_id", "text", "doc_id", "text")
  }

  /** End-to-end cleanup-pipeline composition (VERDICT r6 #4): html strip
    * -> canonical-URL keep-one dedup -> Gopher quality gate -> substring
    * span removal -> 13-gram decontamination -> stratified sample, all
    * over deterministic synthetic wrappers (html like q_html_strip, urls
    * with a doc_id%25 collision class, bench split like q_decontaminate).
    * Every stage is individually oracled elsewhere; this query checks the
    * COMPOSITION — the final text hash proves each stage fed the next the
    * right rows and the right bytes. */
  val qCleanPipeline: Q = (s, d) => {
    import graft.ops.CleanPipeline
    val all = t(s, d, "documents")
    val isBench = col("doc_id") % 7 === 0 && col("doc_id") < 70000L
    val bench = all.filter(isBench).select(col("doc_id"), col("text"))
    val url = concat(lit("HTTPS://Ex.COM:443/"),
      when(col("doc_id") % 25 === 0,
        concat(lit("shared/"), (col("doc_id") % 2).cast("string")))
        .otherwise(concat(lit("u/"), col("doc_id").cast("string"))),
      lit("?utm_source=feed&p=1#frag"))
    val html = concat(
      lit("<html><head><style>p { color: red; }</style><script type=\"text/javascript\">" +
        "if (x < 2 && y > 1) { alert(\"&amp;\"); }</script></head><body>" +
        "<!-- crawl boilerplate --><h1>Doc "),
      col("doc_id").cast("string"), lit("</h1><p>"),
      replace(col("text"), lit(" "), lit("&nbsp;")), lit("</p></body></html>"))
    val docs0 = all.filter(!isBench).select(col("doc_id"), col("lang"),
      col("source"), html.as("text"), url.as("url"))
    // stage boundaries ARE materialization points: the lineage run
    // persists each stage to parquet; this pure composition mirrors that
    // with lazy persist(). Without a boundary two multiplications stack:
    // CollapseProject inlines the strip/canon regex chains into every
    // downstream text reference (the quality gate alone reads text ~15x,
    // so it re-ran the whole strip chain 15x — 7 s for 400 docs; the url
    // self-join broadcasts, so no shuffle materializes the chain either),
    // and the span/cut/flag/anti-join consumers each re-evaluate their
    // upstream (~5x). Lazy persist gives the same plan boundary as the
    // production parquet writes without eager checkpoint jobs: 26 s ->
    // ~3 s warm at sf0.01. The handful of small cached frames per
    // invocation are LRU-evicted; the returned frame depends on them, so
    // they cannot be unpersisted here.
    val s1 = CleanPipeline.strip(docs0, "text").persist()
    val s2 = CleanPipeline.urlDedup(s1, "doc_id", "url")
    val s3 = CleanPipeline.qualityFilter(s2, "text").persist()
    val s4 = CleanPipeline.substringClean(s3, "doc_id", "text").persist()
    val s5 = CleanPipeline.decontaminateDrop(s4, bench, "doc_id", "text",
      "doc_id", "text")
    val s6 = Sampling.sampleStratified(s5, "doc_id", "lang",
      Map("en" -> 0.5, "de" -> 0.25), 0.1)
    s6.select(col("doc_id"), col("lang"), col("text").as("text_final"),
      col("n_cut"))
  }

  /** Deterministic stratified sampling (mixture weights by language):
    * en 0.5 / de 0.25 / everything else 0.1 — the kept set is a pure md5
    * function of doc_id, bit-identical in DuckDB, invariant under
    * partitioning and re-runs. */
  val qSampleStrata: Q = (s, d) =>
    Sampling.sampleStratified(
      t(s, d, "documents").select(col("doc_id"), col("lang"), col("source")),
      "doc_id", "lang", Map("en" -> 0.5, "de" -> 0.25), 0.1)

  /** Brute-force cosine top-k ANN (queries = vec_id < 8). Deterministic:
    * rank ties break on item_id on both engines, and the cosine arithmetic
    * is the proven bit-identical fold (q_embed_neardup), so the ranking is
    * DuckDB-oracled exactly. */
  val qAnnBruteForce: Q = (s, d) => {
    val e = t(s, d, "embeddings")
    Similarity.bruteForceTopK(e, e.filter(col("vec_id") < 8), "vec_id", "embedding", 5)
      .select(col("q_id"), col("rank").cast("long").as("rank"), col("item_id"))
  }

  /** LSH-bucketed ANN over the PORTABLE integer signatures (md5 weights,
    * floor(x·2^20) quantization): signatures, candidate set, cosine verify
    * and ranks all recompute bit-identically in DuckDB, so the approximate
    * scale path itself is rows+schema+hash oracled (the r5 portable-MinHash
    * pattern); recall vs brute force stays pinned in OpsSpec. */
  val qAnnLsh: Q = (s, d) => {
    val e = t(s, d, "embeddings")
    Similarity.lshTopKPortable(e, e.filter(col("vec_id") < 8), "vec_id", "embedding", 5)
      .select(col("q_id"), col("rank").cast("long").as("rank"), col("item_id"))
  }

  /** IVF-bucketed ANN over the PORTABLE quantizer (md5-ordered centroid
    * sample, round-6 cell ranking): centroid choice, probed cells, candidate
    * set and ranks recompute bit-identically in DuckDB → full hash oracle;
    * recall vs brute force stays pinned in OpsSpec. */
  val qAnnIvf: Q = (s, d) => {
    val e = t(s, d, "embeddings")
    Similarity.ivfTopKPortable(e, e.filter(col("vec_id") < 8), "vec_id", "embedding", 5)
      .select(col("q_id"), col("rank").cast("long").as("rank"), col("item_id"))
  }

  /** SPARQL frontend end-to-end: the nation/region tables lift into a
    * triples frame, a 3-pattern BGP + FILTER compiles through the SHACL
    * SPARQL engine, and the result must equal the relational join it
    * encodes (DuckDB oracle). */
  val qSparqlJoin: Q = (s, d) => {
    import graft.shacl.{Sparql, SparqlFrame, PathEval}
    val ex = "http://graft.dev/rel/"
    def iriT(c: Column) =
      struct(c.as("v"), lit(0.toByte).as("k"), lit("").as("dt"), lit("").as("lang"))
    def litT(c: Column) =
      struct(c.as("v"), lit(2.toByte).as("k"), lit("").as("dt"), lit("").as("lang"))
    val n = t(s, d, "nation"); val r = t(s, d, "region")
    val nIri = concat(lit(ex + "nation/"), col("n_nationkey"))
    val nRegIri = concat(lit(ex + "region/"), col("n_regionkey"))
    val rIri = concat(lit(ex + "region/"), col("r_regionkey"))
    val triples = n.select(iriT(nIri).as("s"), lit(ex + "name").as("p"), litT(col("n_name")).as("o"))
      .unionByName(n.select(iriT(nIri).as("s"), lit(ex + "inRegion").as("p"), iriT(nRegIri).as("o")))
      .unionByName(r.select(iriT(rIri).as("s"), lit(ex + "name").as("p"), litT(col("r_name")).as("o")))
    val q = Sparql.parseQuery(
      """SELECT ?nname ?rname WHERE {
        |  ?n ex:inRegion ?reg .
        |  ?n ex:name ?nname .
        |  ?reg ex:name ?rname .
        |  FILTER (STRLEN(?nname) >= 6)
        |}""".stripMargin, Map("ex" -> ex)).asInstanceOf[Sparql.SqSelect]
    val frame = new SparqlFrame(s, triples, PathEval.step(triples, _, _), Map.empty, None)
    val res = frame.evalSelect(q, frame.unitSeed)
    res.df.select(col("nname")("v").as("nname"), col("rname")("v").as("rname"))
  }

  /** SPARQL 1.1 string builtins end-to-end (r3 frontend breadth):
    * SUBSTR/UCASE/STRLEN/REPLACE projections + STRSTARTS/CONTAINS filters
    * over nation-name triples, DuckDB-checked. */
  val qSparqlStr: Q = (s, d) => {
    import graft.shacl.{Sparql, SparqlFrame, PathEval}
    val ex = "http://graft.dev/rel/"
    def iriT(c: Column) =
      struct(c.as("v"), lit(0.toByte).as("k"), lit("").as("dt"), lit("").as("lang"))
    def litT(c: Column) =
      struct(c.as("v"), lit(2.toByte).as("k"), lit("").as("dt"), lit("").as("lang"))
    val n = t(s, d, "nation")
    val triples = n.select(
      iriT(concat(lit(ex + "nation/"), col("n_nationkey"))).as("s"),
      lit(ex + "name").as("p"), litT(col("n_name")).as("o"))
    val q = Sparql.parseQuery(
      """SELECT ?nname (LCASE(SUBSTR(?nname, 1, 3)) AS ?pfx)
        |       (STRLEN(?nname) AS ?len) (REPLACE(?nname, "_", "-") AS ?slug)
        |       (STRAFTER(?nname, "_") AS ?num)
        |WHERE { ?n ex:name ?nname .
        |        FILTER (STRSTARTS(?nname, "NAT") && CONTAINS(?nname, "1")) }""".stripMargin,
      Map("ex" -> ex)).asInstanceOf[Sparql.SqSelect]
    val frame = new SparqlFrame(s, triples, PathEval.step(triples, _, _), Map.empty, None)
    val res = frame.evalSelect(q, frame.unitSeed)
    res.df.select(col("nname")("v").as("nname"), col("pfx")("v").as("pfx"),
      col("len")("v").cast("bigint").as("len"), col("slug")("v").as("slug"),
      col("num")("v").as("num"))
  }

  /** GROUP_CONCAT end-to-end: nations roll up per region into a sorted
    * comma-joined member list (DuckDB string_agg ORDER BY oracle). */
  val qSparqlGroupConcat: Q = (s, d) => {
    import graft.shacl.{Sparql, SparqlFrame, PathEval}
    val ex = "http://graft.dev/rel/"
    def iriT(c: Column) =
      struct(c.as("v"), lit(0.toByte).as("k"), lit("").as("dt"), lit("").as("lang"))
    def litT(c: Column) =
      struct(c.as("v"), lit(2.toByte).as("k"), lit("").as("dt"), lit("").as("lang"))
    val n = t(s, d, "nation"); val r = t(s, d, "region")
    val nIri = concat(lit(ex + "nation/"), col("n_nationkey"))
    val rIri = concat(lit(ex + "region/"), col("r_regionkey"))
    val triples = n.select(iriT(nIri).as("s"), lit(ex + "name").as("p"), litT(col("n_name")).as("o"))
      .unionByName(n.select(iriT(nIri).as("s"), lit(ex + "inRegion").as("p"),
        iriT(concat(lit(ex + "region/"), col("n_regionkey"))).as("o")))
      .unionByName(r.select(iriT(rIri).as("s"), lit(ex + "name").as("p"), litT(col("r_name")).as("o")))
    val q = Sparql.parseQuery(
      """SELECT ?rname (GROUP_CONCAT(?nname ; SEPARATOR = ",") AS ?members)
        |WHERE { ?n ex:inRegion ?reg . ?n ex:name ?nname . ?reg ex:name ?rname . }
        |GROUP BY ?rname""".stripMargin,
      Map("ex" -> ex)).asInstanceOf[Sparql.SqSelect]
    val frame = new SparqlFrame(s, triples, PathEval.step(triples, _, _), Map.empty, None)
    val res = frame.evalSelect(q, frame.unitSeed)
    res.df.select(col("rname")("v").as("rname"), col("members")("v").as("members"))
  }

  /** GRAPH ?g over the named-graph quads layer: orders land in one named
    * graph per priority; the SPARQL block evaluates per graph with ?g
    * bound, and per-graph counts equal the relational GROUP BY (DuckDB
    * oracle). The constant-graph filter prunes like a predicate filter. */
  val qSparqlGraph: Q = (s, d) => {
    import graft.shacl.{Sparql, SparqlFrame, PathEval}
    val ex = "http://graft.dev/rel/"
    def iriT(c: Column) =
      struct(c.as("v"), lit(0.toByte).as("k"), lit("").as("dt"), lit("").as("lang"))
    val o = t(s, d, "orders")
    val quads = o.select(
      iriT(concat(lit(ex + "order/"), col("o_orderkey"))).as("s"),
      lit(ex + "by").as("p"),
      iriT(concat(lit(ex + "customer/"), col("o_custkey"))).as("o"),
      concat(lit(ex + "g/"), regexp_replace(col("o_orderpriority"), "\\s", "_")).as("g"))
    val T = graft.rdf.QuadsDF.defaultUnion(quads)
    val q = Sparql.parseQuery(
      """SELECT ?g (COUNT(?o) AS ?n) WHERE { GRAPH ?g { ?o ex:by ?c . } } GROUP BY ?g""",
      Map("ex" -> ex)).asInstanceOf[Sparql.SqSelect]
    val frame = new SparqlFrame(s, T, PathEval.step(T, _, _), Map.empty, None,
      None, Some(quads))
    val res = frame.evalSelect(q, frame.unitSeed)
    res.df.select(col("g")("v").as("g"), col("n")("v").cast("bigint").as("n"))
  }

  /** ORDER BY pre-projection + expression keys + LIMIT (r4 frontend fix):
    * the sort keys ?rname (non-projected) and STRLEN(?nname) are evaluated
    * on the pre-projection solution per SPARQL 15.1; LIMIT makes the result
    * SET order-dependent, so the DuckDB oracle proves the ordering. */
  val qSparqlTopK: Q = (s, d) => {
    import graft.shacl.{Sparql, SparqlFrame, PathEval}
    val ex = "http://graft.dev/rel/"
    def iriT(c: Column) =
      struct(c.as("v"), lit(0.toByte).as("k"), lit("").as("dt"), lit("").as("lang"))
    def litT(c: Column) =
      struct(c.as("v"), lit(2.toByte).as("k"), lit("").as("dt"), lit("").as("lang"))
    val n = t(s, d, "nation"); val r = t(s, d, "region")
    val nIri = concat(lit(ex + "nation/"), col("n_nationkey"))
    val rIri = concat(lit(ex + "region/"), col("r_regionkey"))
    val triples = n.select(iriT(nIri).as("s"), lit(ex + "name").as("p"), litT(col("n_name")).as("o"))
      .unionByName(n.select(iriT(nIri).as("s"), lit(ex + "inRegion").as("p"),
        iriT(concat(lit(ex + "region/"), col("n_regionkey"))).as("o")))
      .unionByName(r.select(iriT(rIri).as("s"), lit(ex + "name").as("p"), litT(col("r_name")).as("o")))
    val q = Sparql.parseQuery(
      """SELECT ?nname WHERE { ?n ex:inRegion ?reg . ?n ex:name ?nname .
        |  ?reg ex:name ?rname . }
        |ORDER BY ?rname STRLEN(?nname) ?nname LIMIT 7""".stripMargin,
      Map("ex" -> ex)).asInstanceOf[Sparql.SqSelect]
    val frame = new SparqlFrame(s, triples, PathEval.step(triples, _, _), Map.empty, None)
    val res = frame.evalSelect(q, frame.unitSeed)
    res.df.select(col("nname")("v").as("nname"))
  }

  /** VALUES inline data (legal outside constraints, r4): segment triples
    * join an inline (?seg ?tier) table with an UNDEF row. */
  val qSparqlValues: Q = (s, d) => {
    import graft.shacl.{Sparql, SparqlFrame, PathEval}
    val ex = "http://graft.dev/rel/"
    def iriT(c: Column) =
      struct(c.as("v"), lit(0.toByte).as("k"), lit("").as("dt"), lit("").as("lang"))
    def litT(c: Column) =
      struct(c.as("v"), lit(2.toByte).as("k"), lit("").as("dt"), lit("").as("lang"))
    val c0 = t(s, d, "customer")
    val triples = c0.select(
      iriT(concat(lit(ex + "customer/"), col("c_custkey"))).as("s"),
      lit(ex + "segment").as("p"), litT(col("c_mktsegment")).as("o"))
    val q = Sparql.parseQuery(
      """SELECT ?seg (COUNT(?c) AS ?n) WHERE { ?c ex:segment ?seg .
        |  VALUES ?seg { "BUILDING" "MACHINERY" } } GROUP BY ?seg""".stripMargin,
      Map("ex" -> ex)).asInstanceOf[Sparql.SqSelect]
    val frame = new SparqlFrame(s, triples, PathEval.step(triples, _, _), Map.empty, None)
    val res = frame.evalSelect(q, frame.unitSeed)
    res.df.select(col("seg")("v").as("seg"), col("n")("v").cast("bigint").as("n"))
  }

  /** Negated property set !(ex:name) (r4): one scan excluding a predicate
    * literal list — only the inRegion edges survive. */
  val qSparqlNps: Q = (s, d) => {
    import graft.shacl.{Sparql, SparqlFrame, PathEval}
    val ex = "http://graft.dev/rel/"
    def iriT(c: Column) =
      struct(c.as("v"), lit(0.toByte).as("k"), lit("").as("dt"), lit("").as("lang"))
    def litT(c: Column) =
      struct(c.as("v"), lit(2.toByte).as("k"), lit("").as("dt"), lit("").as("lang"))
    val n = t(s, d, "nation")
    val nIri = concat(lit(ex + "nation/"), col("n_nationkey"))
    val triples = n.select(iriT(nIri).as("s"), lit(ex + "name").as("p"), litT(col("n_name")).as("o"))
      .unionByName(n.select(iriT(nIri).as("s"), lit(ex + "inRegion").as("p"),
        iriT(concat(lit(ex + "region/"), col("n_regionkey"))).as("o")))
    val q = Sparql.parseQuery(
      """SELECT ?s ?o WHERE { ?s !(ex:name) ?o . }""",
      Map("ex" -> ex)).asInstanceOf[Sparql.SqSelect]
    val frame = new SparqlFrame(s, triples, PathEval.step(triples, _, _), Map.empty, None)
    val res = frame.evalSelect(q, frame.unitSeed)
    res.df.select(col("s")("v").as("s"), col("o")("v").as("o"))
  }

  /** SPARQL aggregation end-to-end: orders lift to (order ex:by customer)
    * triples, GROUP BY ?cust HAVING(COUNT > 20) compiles through the
    * frontend, result equals the relational GROUP BY (DuckDB oracle). */
  val qSparqlAgg: Q = (s, d) => {
    import graft.shacl.{Sparql, SparqlFrame, PathEval}
    val ex = "http://graft.dev/rel/"
    def iriT(c: Column) =
      struct(c.as("v"), lit(0.toByte).as("k"), lit("").as("dt"), lit("").as("lang"))
    val o = t(s, d, "orders")
    val triples = o.select(
      iriT(concat(lit(ex + "order/"), col("o_orderkey"))).as("s"),
      lit(ex + "by").as("p"),
      iriT(concat(lit(ex + "customer/"), col("o_custkey"))).as("o"))
    val q = Sparql.parseQuery(
      """SELECT ?cust (COUNT(?o) AS ?n) WHERE { ?o ex:by ?cust . }
        |GROUP BY ?cust HAVING (COUNT(?o) > 20)""".stripMargin,
      Map("ex" -> ex)).asInstanceOf[Sparql.SqSelect]
    val frame = new SparqlFrame(s, triples, PathEval.step(triples, _, _), Map.empty, None)
    val res = frame.evalSelect(q, frame.unitSeed)
    res.df.select(col("cust")("v").as("cust"), col("n")("v").cast("bigint").as("n"))
  }

  /** Embedding norms (aggregate/zip_with kernels). */
  val qEmbedNorm: Q = (s, d) =>
    t(s, d, "embeddings").select(col("vec_id"),
      round(Similarity.norm(col("embedding")), 4).as("nrm"))

  /** Embedding-cosine near-dup, exact baseline (threshold picked inside a
    * clean gap of this table's cosine distribution: nearest values are
    * 0.4516 above / 0.4494 below, so the rounded-compare boundary is
    * deterministic). The LSH scale path is recall-tested in OpsSpec. */
  val qEmbedNearDup: Q = (s, d) =>
    Dedup.embeddingNearDupExact(t(s, d, "embeddings"), "vec_id", "embedding", 0.45)
      .select(col("a_id"), col("b_id"), col("cos"))

  /** Windowed aggregation over the events stream table (same transform the
    * streaming path uses; exact int aggregates). */
  val qWindowAgg: Q = (s, d) =>
    t(s, d, "events").groupBy(date_trunc("hour", col("ts")).as("w_start"), col("event_type"))
      .agg(count(lit(1)).as("n"), min(col("event_id")).as("min_id"), max(col("event_id")).as("max_id"))

  // --------------------------------------------------------------------
  // Oracle SQL (DuckDB dialect) — column names/aliases match exactly
  // --------------------------------------------------------------------

  private def langIdSql: String = {
    // must mirror TextOps.langId exactly (same markers, same tie-break)
    val markers = Seq(
      "en" -> Seq(" the ", " and ", " of ", " is "),
      "fr" -> Seq(" le ", " la ", " et ", " est "),
      "es" -> Seq(" el ", " y ", " que ", " es "),
      "de" -> Seq(" der ", " die ", " und ", " ist "),
      "zh" -> Seq("的", "是", "了", "在"))
    def score(l: String): String = markers.find(_._1 == l).get._2
      .map(m => s"(CASE WHEN contains(' ' || lower(text) || ' ', '$m') THEN 1 ELSE 0 END)")
      .mkString("(", " + ", ")")
    val cases = markers.zipWithIndex.map { case ((l, _), i) =>
      val laters = markers.drop(i + 1).map(x => score(x._1))
      val cond = (s"${score(l)} > 0" +: laters.map(o => s"${score(l)} >= $o")).mkString(" AND ")
      s"WHEN $cond THEN '$l'"
    }.mkString(" ")
    s"SELECT lang, predicted, COUNT(*) AS cnt FROM (SELECT lang, (CASE $cases ELSE 'und' END) AS predicted FROM documents) GROUP BY lang, predicted"
  }

  /** Shared CTE chain for the portable MinHash pipeline (tokens ->
    * distinct 3-shingles -> md5 double-hash -> 16-min signature -> 4
    * band keys), reused by q_minhash_lsh and q_minhash_cluster. */
  private val minhashBandedCtes: String = {
    val P = 2147483647L
    val mins = (0 until 16).map(i =>
      s"min((h1 + $i * h2) % $P) AS s_$i").mkString(", ")
    val bandSelects = (0 until 4).map(b =>
      s"SELECT doc_id, $b AS band, concat_ws(',', s_${4 * b}, s_${4 * b + 1}, " +
        s"s_${4 * b + 2}, s_${4 * b + 3}) AS k FROM sig").mkString("\n  UNION ALL ")
    s"""toks AS (
       |  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS tk FROM documents
       |), sh AS (
       |  SELECT doc_id, unnest(list_distinct(list_transform(generate_series(1, len(tk) - 2),
       |    i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]))) AS s
       |  FROM toks WHERE len(tk) >= 3
       |), h AS (
       |  SELECT doc_id,
       |    ('0x' || substr(md5(s), 1, 15))::BIGINT AS h1,
       |    (('0x' || substr(md5(s), 16, 15))::BIGINT % $P) AS h2
       |  FROM sh
       |), sig AS (
       |  SELECT doc_id, $mins FROM h GROUP BY doc_id
       |), banded AS (
       |  $bandSelects
       |)""".stripMargin
  }

  private val stopwordsSql =
    "('the','a','of','and','to','in','is','it','le','la','el','der','die','und','et','de','y','que')"

  val oracle: Map[String, String] = Map(
    "q_target_subjects_of" -> "SELECT DISTINCT o_custkey FROM orders",
    "q_mincount" ->
      """SELECT c_custkey FROM customer LEFT JOIN orders ON o_custkey = c_custkey
        |GROUP BY c_custkey HAVING COUNT(o_orderkey) < 1""".stripMargin,
    "q_maxcount" ->
      "SELECT o_custkey, COUNT(*) AS cnt FROM orders GROUP BY o_custkey HAVING COUNT(*) > 20",
    "q_class_anti" ->
      """SELECT l_orderkey, l_linenumber, l_partkey FROM lineitem
        |WHERE NOT EXISTS (SELECT 1 FROM part WHERE p_partkey = l_partkey AND p_size > 25)""".stripMargin,
    "q_pattern" ->
      "SELECT p_partkey, p_name FROM part WHERE NOT regexp_matches(p_name, 'r.*d')",
    "q_range" ->
      """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
        |WHERE l_quantity < 3 OR l_quantity >= 48""".stripMargin,
    "q_uniquelang_kernel" ->
      """SELECT o_custkey, o_orderpriority, COUNT(*) AS cnt FROM orders
        |GROUP BY o_custkey, o_orderpriority HAVING COUNT(*) >= 2""".stripMargin,
    "q_equals_symdiff" ->
      """SELECT COALESCE(ck, sk) AS nationkey, (ck IS NULL) AS missing_in_customer FROM
        |(SELECT DISTINCT c_nationkey AS ck FROM customer) c
        |FULL OUTER JOIN (SELECT DISTINCT s_nationkey AS sk FROM supplier) s
        |ON c.ck = s.sk WHERE ck IS NULL OR sk IS NULL""".stripMargin,
    "q_disjoint_semi" ->
      """SELECT DISTINCT c_nationkey AS nationkey FROM customer
        |WHERE EXISTS (SELECT 1 FROM supplier WHERE s_nationkey = c_nationkey)""".stripMargin,
    "q_lessthan_pairs" ->
      """SELECT l_orderkey, l_linenumber FROM lineitem JOIN orders ON o_orderkey = l_orderkey
        |WHERE NOT (o_orderdate < l_shipdate)""".stripMargin,
    "q_path_seq_agg" ->
      """SELECT c_custkey, CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS revenue_cents,
        |COUNT(*) AS n_items FROM customer
        |JOIN orders ON c_custkey = o_custkey JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY c_custkey""".stripMargin,
    "q_path_alt" ->
      """SELECT DISTINCT c_nationkey AS nationkey FROM customer
        |UNION SELECT DISTINCT s_nationkey AS nationkey FROM supplier""".stripMargin,
    "q_path_inverse" ->
      """SELECT r_regionkey, COUNT(*) AS n_sup FROM region
        |JOIN nation ON n_regionkey = r_regionkey JOIN supplier ON s_nationkey = n_nationkey
        |GROUP BY r_regionkey""".stripMargin,
    "q_closure" ->
      """WITH RECURSIVE reach(node) AS (
        |  SELECT CAST(1 AS BIGINT) AS node
        |  UNION
        |  SELECT p.p_partkey AS node FROM part p, reach r WHERE p.p_partkey // 2 = r.node
        |) SELECT node FROM reach""".stripMargin,
    "q_connected_components" ->
      """SELECT p_partkey AS id, CAST(p_partkey - (p_partkey % 10) AS BIGINT) AS component
        |FROM part""".stripMargin,
    "q_mention_tokens" ->
      """SELECT token, COUNT(*) AS cnt FROM
        |(SELECT unnest(string_split_regex(trim(text), '\s+')) AS token FROM documents)
        |WHERE length(token) >= 6 GROUP BY token""".stripMargin,
    "q_token_count" ->
      """SELECT doc_id, (CASE WHEN length(trim(text)) = 0 THEN 0
        |ELSE len(string_split_regex(trim(text), '\s+')) END) AS n_tokens FROM documents""".stripMargin,
    "q_quality" ->
      ("""SELECT doc_id,
        |round(CAST(length(regexp_replace(text, '[a-zA-Z0-9\s]+', '', 'g')) AS DOUBLE) / greatest(length(text), 1), 4) AS punct_ratio,
        |round(CAST(len(list_filter(string_split_regex(lower(trim(text)), '\s+'), t -> t IN """.stripMargin +
      stopwordsSql +
      """)) AS DOUBLE) / greatest(len(string_split_regex(lower(trim(text)), '\s+')), 1), 4) AS stop_ratio
        |FROM documents""".stripMargin),
    "q_langid" -> langIdSql,
    // Gopher filter: every signal mirrors the Spark expression exactly
    // (same tokenization, same rounding, inclusive BETWEENs)
    "q_gopher" ->
      ("""WITH base AS (
        |  SELECT doc_id, text,
        |    string_split_regex(lower(trim(text)), '\s+') AS ltk,
        |    (CASE WHEN length(trim(text)) = 0 THEN 0
        |     ELSE len(string_split_regex(trim(text), '\s+')) END) AS wc,
        |    round(CAST(length(regexp_replace(text, '\s+', '', 'g')) AS DOUBLE) /
        |      greatest(len(string_split_regex(trim(text), '\s+')), 1), 4) AS mwl,
        |    round(CAST(length(regexp_replace(text, '[A-Za-z0-9\s]', '', 'g')) AS DOUBLE) /
        |      greatest(length(text), 1), 4) AS symr
        |  FROM documents
        |), tri AS (
        |  SELECT doc_id, wc, mwl, symr,
        |    (CASE WHEN len(ltk) < 3 THEN 0.0
        |     ELSE round(1.0 - CAST(len(list_distinct(list_transform(
        |       generate_series(1, len(ltk) - 2),
        |       i -> ltk[i] || ' ' || ltk[i+1] || ' ' || ltk[i+2]))) AS DOUBLE) /
        |       (len(ltk) - 2), 4) END) AS dup3,
        |    round(CAST(len(list_filter(ltk, t -> t IN """.stripMargin +
      stopwordsSql +
      """)) AS DOUBLE) / greatest(len(ltk), 1), 4) AS stopr
        |  FROM base
        |)
        |SELECT doc_id, wc, mwl, symr, dup3,
        |  (CASE WHEN wc BETWEEN 50 AND 100000 AND mwl BETWEEN 3.0 AND 10.0
        |    AND symr < 0.1 AND stopr > 0.03 AND dup3 < 0.2
        |   THEN 1 ELSE 0 END)::BIGINT AS keep
        |FROM tri""".stripMargin),
    "q_fingerprint" ->
      """SELECT doc_id, md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fp
        |FROM documents""".stripMargin,
    // html strip recomputed end-to-end: same wrapper concat, same four
    // regex passes, same entity decode order (&amp; last), same collapse
    "q_html_strip" ->
      """WITH h AS (
        |  SELECT doc_id,
        |    '<html><head><style>p { color: red; }</style><script type="text/javascript">if (x < 2 && y > 1) { alert("&amp;"); }</script></head><body><!-- crawl boilerplate --><h1>Doc '
        |    || CAST(doc_id AS VARCHAR) || '</h1><p>' || replace(text, ' ', '&nbsp;')
        |    || '</p></body></html>' AS html
        |  FROM documents
        |), s AS (
        |  SELECT doc_id, trim(regexp_replace(
        |    replace(replace(replace(replace(replace(replace(
        |      regexp_replace(regexp_replace(regexp_replace(regexp_replace(html,
        |        '(?is)<script\b[^>]*>.*?</script>', ' ', 'g'),
        |        '(?is)<style\b[^>]*>.*?</style>', ' ', 'g'),
        |        '(?s)<!--.*?-->', ' ', 'g'),
        |        '<[^>]*>', ' ', 'g'),
        |      '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
        |      '&#39;', chr(39)), '&amp;', '&'),
        |    '\s+', ' ', 'g')) AS text_clean
        |  FROM h
        |)
        |SELECT doc_id, text_clean,
        |  CAST(CASE WHEN length(trim(text_clean)) = 0 THEN 0
        |    ELSE len(string_split_regex(trim(text_clean), '\s+')) END AS BIGINT) AS n_tokens
        |FROM s""".stripMargin,
    "q_dedup_exact" ->
      """SELECT md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fp, COUNT(*) AS cnt
        |FROM documents GROUP BY fp HAVING COUNT(*) > 1""".stripMargin,
    "q_embed_norm" ->
      """SELECT vec_id, round(sqrt(list_sum(list_transform(embedding,
        |x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 4) AS nrm FROM embeddings""".stripMargin,
    "q_window_agg" ->
      """SELECT date_trunc('hour', ts) AS w_start, event_type, COUNT(*) AS n,
        |MIN(event_id) AS min_id, MAX(event_id) AS max_id FROM events
        |GROUP BY date_trunc('hour', ts), event_type""".stripMargin,
    "q_sparql_join" ->
      """SELECT n_name AS nname, r_name AS rname FROM nation
        |JOIN region ON n_regionkey = r_regionkey WHERE length(n_name) >= 6""".stripMargin,
    "q_sparql_agg" ->
      """SELECT concat('http://graft.dev/rel/customer/', o_custkey) AS cust,
        |COUNT(*) AS n FROM orders GROUP BY o_custkey HAVING COUNT(*) > 20""".stripMargin,
    "q_sparql_strfuncs" ->
      """SELECT n_name AS nname, lower(substr(n_name, 1, 3)) AS pfx,
        |length(n_name) AS len, replace(n_name, '_', '-') AS slug,
        |split_part(n_name, '_', 2) AS num FROM nation
        |WHERE n_name LIKE 'NAT%' AND n_name LIKE '%1%'""".stripMargin,
    "q_sparql_group_concat" ->
      """SELECT r_name AS rname, string_agg(n_name, ',' ORDER BY n_name) AS members
        |FROM nation JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name""".stripMargin,
    "q_sparql_graph" ->
      """SELECT concat('http://graft.dev/rel/g/', replace(o_orderpriority, ' ', '_')) AS g,
        |COUNT(*) AS n FROM orders GROUP BY 1""".stripMargin,
    "q_sparql_topk" ->
      """SELECT n_name AS nname FROM nation JOIN region ON n_regionkey = r_regionkey
        |ORDER BY r_name, length(n_name), n_name LIMIT 7""".stripMargin,
    "q_sparql_values" ->
      """SELECT c_mktsegment AS seg, COUNT(*) AS n FROM customer
        |WHERE c_mktsegment IN ('BUILDING', 'MACHINERY') GROUP BY 1""".stripMargin,
    "q_sparql_nps" ->
      """SELECT concat('http://graft.dev/rel/nation/', n_nationkey) AS s,
        |concat('http://graft.dev/rel/region/', n_regionkey) AS o FROM nation""".stripMargin,
    // mirrors Similarity.cosine exactly: 6-digit round of the ratio, then
    // the 4-digit threshold compare
    "q_embed_neardup" ->
      """SELECT a.vec_id AS a_id, b.vec_id AS b_id,
        |round(round(list_sum(list_transform(list_zip(a.embedding, b.embedding),
        |  x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))) /
        |  (sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) *
        |   sqrt(list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 6), 4) AS cos
        |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        |WHERE cos >= 0.45""".stripMargin,
    // exact all-pairs Hamming over the portable md5-derived simhash: the
    // Spark side's pigeonhole banding guarantees the same result set
    "q_simhash" -> {
      val loVotes = (0 until 32).map(b =>
        s"sum(case when (hlo >> $b) & 1 = 1 then 1 else -1 end) AS lo$b").mkString(", ")
      val hiVotes = (0 until 32).map(b =>
        s"sum(case when (hhi >> $b) & 1 = 1 then 1 else -1 end) AS hi$b").mkString(", ")
      val shLo = (0 until 32).map(b =>
        s"(case when lo$b > 0 then ${1L << b} else 0 end)").mkString(" + ")
      val shHi = (0 until 32).map(b =>
        s"(case when hi$b > 0 then ${1L << b} else 0 end)").mkString(" + ")
      s"""WITH toks AS (
         |  SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS t
         |  FROM documents
         |), h AS (
         |  SELECT doc_id,
         |    ('0x' || substr(md5(t), 1, 8))::BIGINT AS hhi,
         |    ('0x' || substr(md5(t), 9, 8))::BIGINT AS hlo
         |  FROM toks
         |), votes AS (
         |  SELECT doc_id, $loVotes, $hiVotes FROM h GROUP BY doc_id
         |), sig AS (
         |  SELECT doc_id, ($shLo)::BIGINT AS sh_lo, ($shHi)::BIGINT AS sh_hi FROM votes
         |)
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |  CAST(bit_count(xor(a.sh_lo, b.sh_lo)) + bit_count(xor(a.sh_hi, b.sh_hi)) AS BIGINT) AS dist
         |FROM sig a JOIN sig b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.sh_lo, b.sh_lo)) + bit_count(xor(a.sh_hi, b.sh_hi)) <= 10""".stripMargin
    },
    // df-capped inverted-index exact Jaccard; mirrors WordShingles
    // (word 3-grams of lower(trim(text)) split on \s+) and the [2, maxDf]
    // blocking exactly
    "q_ngram_jaccard" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS tk FROM documents
        |), sh AS (
        |  SELECT doc_id, list_distinct(list_transform(generate_series(1, len(tk) - 2),
        |    i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS sh
        |  FROM toks WHERE len(tk) >= 3
        |), inv AS (
        |  SELECT doc_id, ('0x' || substr(md5(unnest(sh)), 1, 15))::BIGINT AS s FROM sh
        |), rare AS (
        |  SELECT s FROM inv GROUP BY s HAVING count(*) BETWEEN 2 AND 10
        |), cand AS (
        |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM inv a JOIN rare r ON a.s = r.s JOIN inv b ON b.s = a.s
        |  WHERE a.doc_id < b.doc_id
        |)
        |SELECT c.id_a, c.id_b,
        |  round(len(list_intersect(sa.sh, sb.sh))::DOUBLE /
        |        greatest(len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh)), 1), 4) AS jaccard
        |FROM cand c JOIN sh sa ON sa.doc_id = c.id_a JOIN sh sb ON sb.doc_id = c.id_b
        |WHERE jaccard >= 0.1""".stripMargin,
    // full portable MinHash+LSH recomputed in SQL: md5-derived shingle
    // hashes, Kirsch-Mitzenmacher permutations mod 2^31-1, 4 bands of 4,
    // literal band keys, bucket self-join
    "q_minhash_lsh" ->
      s"""WITH $minhashBandedCtes
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared_bands
         |FROM banded a JOIN banded b ON a.band = b.band AND a.k = b.k AND a.doc_id < b.doc_id
         |GROUP BY 1, 2""".stripMargin,
    // keep-one canonicalization: same banded CTEs -> distinct candidate
    // pairs -> transitive closure as recursive min-reachability (exact:
    // every node's canon = min id it can reach), mirroring the Spark
    // side's star-contraction components
    "q_minhash_cluster" ->
      s"""WITH RECURSIVE $minhashBandedCtes, pairs AS (
         |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM banded a JOIN banded b ON a.band = b.band AND a.k = b.k AND a.doc_id < b.doc_id
         |), edges AS (
         |  SELECT id_a AS u, id_b AS v FROM pairs
         |  UNION SELECT id_b AS u, id_a AS v FROM pairs
         |), reach(id, x) AS (
         |  SELECT u, u FROM edges
         |  UNION
         |  SELECT r.id, e.v FROM reach r JOIN edges e ON r.x = e.u
         |)
         |SELECT id, MIN(x) AS canon FROM reach GROUP BY id""".stripMargin,
    // substring dedup recomputed end-to-end: same tokenization, 20-token
    // windows, md5-derived 60-bit fingerprints, [2,20] df-cap, diagonal
    // span merge via the same two window functions
    "q_substring_dedup" ->
      """WITH t AS (
        |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS tk FROM documents
        |), w0 AS (
        |  SELECT doc_id, unnest(list_transform(generate_series(1, len(tk) - 19),
        |    i -> struct_pack(pos := i,
        |      fp := ('0x' || substr(md5(array_to_string(tk[i:i+19], ' ')), 1, 15))::BIGINT))) AS u
        |  FROM t WHERE len(tk) >= 20
        |), w AS (
        |  SELECT doc_id, u.pos AS pos, u.fp AS fp FROM w0
        |), rare AS (
        |  SELECT fp FROM w GROUP BY fp HAVING count(DISTINCT doc_id) BETWEEN 2 AND 20
        |), m AS (
        |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b, b.pos - a.pos AS d, a.pos AS pos_a
        |  FROM w a JOIN rare r ON a.fp = r.fp JOIN w b ON b.fp = a.fp
        |  WHERE a.doc_id < b.doc_id
        |), marked AS (
        |  SELECT id_a, id_b, d, pos_a,
        |    max(pos_a + 20) OVER (PARTITION BY id_a, id_b, d ORDER BY pos_a
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
        |  FROM m
        |), spans AS (
        |  SELECT id_a, id_b, d, pos_a,
        |    SUM(CASE WHEN prev_end IS NULL OR pos_a > prev_end THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY id_a, id_b, d ORDER BY pos_a) AS span
        |  FROM marked
        |)
        |SELECT id_a, id_b, MIN(pos_a) AS a_start, MAX(pos_a) + 20 AS a_end,
        |  MIN(pos_a) + d AS b_start, MAX(pos_a) + 20 + d AS b_end, COUNT(*) AS n_windows
        |FROM spans GROUP BY id_a, id_b, d, span""".stripMargin,
    // removal half: same span pipeline, then the keep-one token filter
    // (id_b loses [b_start, b_end); cuts union per doc; 1-based lambda
    // index i matches the spans' 1-based token offsets)
    "q_substring_clean" ->
      """WITH t AS (
        |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS tk FROM documents
        |), w0 AS (
        |  SELECT doc_id, unnest(list_transform(generate_series(1, len(tk) - 19),
        |    i -> struct_pack(pos := i,
        |      fp := ('0x' || substr(md5(array_to_string(tk[i:i+19], ' ')), 1, 15))::BIGINT))) AS u
        |  FROM t WHERE len(tk) >= 20
        |), w AS (
        |  SELECT doc_id, u.pos AS pos, u.fp AS fp FROM w0
        |), rare AS (
        |  SELECT fp FROM w GROUP BY fp HAVING count(DISTINCT doc_id) BETWEEN 2 AND 20
        |), m AS (
        |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b, b.pos - a.pos AS d, a.pos AS pos_a
        |  FROM w a JOIN rare r ON a.fp = r.fp JOIN w b ON b.fp = a.fp
        |  WHERE a.doc_id < b.doc_id
        |), marked AS (
        |  SELECT id_a, id_b, d, pos_a,
        |    max(pos_a + 20) OVER (PARTITION BY id_a, id_b, d ORDER BY pos_a
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
        |  FROM m
        |), spans AS (
        |  SELECT id_a, id_b, d, pos_a,
        |    SUM(CASE WHEN prev_end IS NULL OR pos_a > prev_end THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY id_a, id_b, d ORDER BY pos_a) AS span
        |  FROM marked
        |), agg AS (
        |  SELECT id_a, id_b, d, MIN(pos_a) AS a_start, MAX(pos_a) + 20 AS a_end
        |  FROM spans GROUP BY id_a, id_b, d, span
        |), cuts AS (
        |  SELECT id_b AS id, list(struct_pack(cs := a_start + d, ce := a_end + d)) AS cuts
        |  FROM agg GROUP BY id_b
        |), fin AS (
        |  SELECT t.doc_id AS id, t.tk,
        |    list_filter(t.tk, (x, i) -> c.cuts IS NULL OR
        |      len(list_filter(c.cuts, s -> i >= s.cs AND i < s.ce)) = 0) AS kept
        |  FROM t LEFT JOIN cuts c ON t.doc_id = c.id
        |)
        |SELECT id, COALESCE(array_to_string(kept, ' '), '') AS text_clean,
        |  CAST(len(tk) - len(kept) AS BIGINT) AS n_cut
        |FROM fin""".stripMargin,
    // repetition signals over the same derived multi-line text: line
    // counts per (doc, line), char-weighted dup fraction, deterministic
    // top bigram via (count DESC, bigram ASC) row_number
    "q_repetition" ->
      """WITH base AS (
        |  SELECT doc_id, replace(text, ' line ', chr(10)) AS text FROM documents
        |), lines AS (
        |  SELECT doc_id, trim(l) AS l FROM (
        |    SELECT doc_id, unnest(string_split(text, chr(10))) AS l FROM base)
        |  WHERE length(trim(l)) > 0
        |), lc AS (
        |  SELECT doc_id, l, count(*) AS c, length(l) AS len FROM lines GROUP BY doc_id, l
        |), la AS (
        |  SELECT doc_id,
        |    round(1.0 - count(*)::DOUBLE / sum(c), 4) AS dup_line_frac,
        |    round(sum((c - 1) * len)::DOUBLE / greatest(sum(c * len), 1), 4) AS dup_line_char_frac
        |  FROM lc GROUP BY doc_id
        |), bg0 AS (
        |  SELECT doc_id, unnest(list_transform(generate_series(1, len(tk) - 1),
        |    i -> tk[i] || ' ' || tk[i+1])) AS bg
        |  FROM (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS tk FROM base)
        |  WHERE len(tk) >= 2
        |), bgc AS (
        |  SELECT doc_id, bg, count(*) AS c FROM bg0 GROUP BY doc_id, bg
        |), topbg AS (
        |  SELECT doc_id, bg, c FROM (
        |    SELECT doc_id, bg, c,
        |      row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, bg ASC) AS rn
        |    FROM bgc)
        |  WHERE rn = 1
        |)
        |SELECT b.doc_id AS id,
        |  COALESCE(la.dup_line_frac, 0.0) AS dup_line_frac,
        |  COALESCE(la.dup_line_char_frac, 0.0) AS dup_line_char_frac,
        |  COALESCE(topbg.bg, '') AS top_bigram,
        |  COALESCE(round(topbg.c * length(topbg.bg)::DOUBLE /
        |    greatest(length(regexp_replace(b.text, '\s', '', 'g')), 1), 4), 0.0) AS top_bigram_frac
        |FROM base b
        |LEFT JOIN la ON b.doc_id = la.doc_id
        |LEFT JOIN topbg ON b.doc_id = topbg.doc_id""".stripMargin,
    // PII redaction: same deterministic augmentation, same four RE2-safe
    // patterns in the same order, counts taken on the string each pattern
    // actually saw ('g' flag: replace ALL, matching Spark's regexp_replace)
    "q_redact" ->
      """WITH aug AS (
        |  SELECT doc_id, text ||
        |    (CASE WHEN doc_id % 3 = 0 THEN '' ELSE ' contact u' || doc_id || '@example.com' END) ||
        |    ' visit https://ex.com/p/' || doc_id ||
        |    ' from 10.0.' || (doc_id % 256) || '.' || ((doc_id * 7) % 256) ||
        |    (CASE WHEN doc_id % 2 = 1 THEN '' ELSE ' call +1 415 555 ' || lpad((doc_id % 10000)::VARCHAR, 4, '0') END)
        |    AS t0
        |  FROM documents
        |), s1 AS (
        |  SELECT doc_id, regexp_replace(t0, 'https?://\S+', '<URL>', 'g') AS t1,
        |    len(regexp_extract_all(t0, 'https?://\S+')) AS n_url FROM aug
        |), s2 AS (
        |  SELECT doc_id, regexp_replace(t1, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g') AS t2,
        |    n_url, len(regexp_extract_all(t1, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_email FROM s1
        |), s3 AS (
        |  SELECT doc_id, regexp_replace(t2, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g') AS t3,
        |    n_url, n_email, len(regexp_extract_all(t2, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS n_ip FROM s2
        |)
        |SELECT doc_id, regexp_replace(t3, '\+?\d[\d ()-]{6,}\d', '<PHONE>', 'g') AS text_redacted,
        |  CAST(n_url AS BIGINT) AS n_url, CAST(n_email AS BIGINT) AS n_email,
        |  CAST(n_ip AS BIGINT) AS n_ip,
        |  CAST(len(regexp_extract_all(t3, '\+?\d[\d ()-]{6,}\d')) AS BIGINT) AS n_phone
        |FROM s3""".stripMargin,
    // URL canonicalization: identical regex chain, DuckDB backrefs are \1
    // and the 'g' flag replaces all matches (Spark replaces all by default)
    "q_url_canon" ->
      """WITH aug AS (
        |  SELECT doc_id, CASE doc_id % 4
        |    WHEN 0 THEN 'HTTPS://Example.COM:443/p/' || (doc_id % 50) ||
        |      '?utm_source=feed&id=' || (doc_id % 50) || '#sec'
        |    WHEN 1 THEN 'http://Ex.ORG:80/'
        |    WHEN 2 THEN 'http://ex.org/q?a=' || (doc_id % 9) || '&utm_campaign=x&b=2'
        |    ELSE 'https://sub.ex.org/a/b?id=' || (doc_id % 25) END AS url
        |  FROM documents
        |), s1 AS (
        |  SELECT doc_id, url, regexp_replace(url, '#.*', '', 'g') AS u FROM aug
        |), s2 AS (
        |  SELECT doc_id, url,
        |    lower(regexp_extract(u, '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*', 0)) ||
        |    substr(u, length(regexp_extract(u, '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*', 0)) + 1) AS u
        |  FROM s1
        |), s3 AS (
        |  SELECT doc_id, url, regexp_replace(regexp_replace(u,
        |    '^(http://[^/:?#]+):80([/?#]|$)', '\1\2', 'g'),
        |    '^(https://[^/:?#]+):443([/?#]|$)', '\1\2', 'g') AS u FROM s2
        |), s4 AS (
        |  SELECT doc_id, url, regexp_extract(u, '^[^?]*', 0) AS base,
        |    CASE WHEN length(u) > length(regexp_extract(u, '^[^?]*', 0))
        |      THEN substr(u, length(regexp_extract(u, '^[^?]*', 0)) + 2) ELSE '' END AS qs
        |  FROM s3
        |), s5 AS (
        |  SELECT doc_id, url, base,
        |    regexp_replace(regexp_replace(regexp_replace(qs,
        |      '(^|&)(utm_[A-Za-z0-9_]*|fbclid|gclid)=[^&]*', '\1', 'g'),
        |      '&&+', '&', 'g'), '^&+|&+$', '', 'g') AS qs
        |  FROM s4
        |)
        |SELECT doc_id, url AS url_raw,
        |  regexp_replace(base || (CASE WHEN qs <> '' THEN '?' || qs ELSE '' END),
        |    '^(https?://[^/?#]+)/([?#]|$)', '\1\2', 'g') AS url_canon
        |FROM s5""".stripMargin,
    // pre-tokenized substring dedup: tokens are synthetic md5-derived
    // 60-bit ids rendered as strings (CAST(BIGINT AS VARCHAR) matches
    // Spark's long->string cast), then the identical window/df-cap/merge
    // pipeline as q_substring_dedup
    "q_substring_dedup_tok" ->
      """WITH t AS (
        |  SELECT doc_id, list_transform(string_split_regex(lower(trim(text)), '\s+'),
        |    s -> CAST(('0x' || substr(md5(s), 1, 15))::BIGINT AS VARCHAR)) AS tk
        |  FROM documents
        |), w0 AS (
        |  SELECT doc_id, unnest(list_transform(generate_series(1, len(tk) - 19),
        |    i -> struct_pack(pos := i,
        |      fp := ('0x' || substr(md5(array_to_string(tk[i:i+19], ' ')), 1, 15))::BIGINT))) AS u
        |  FROM t WHERE len(tk) >= 20
        |), w AS (
        |  SELECT doc_id, u.pos AS pos, u.fp AS fp FROM w0
        |), rare AS (
        |  SELECT fp FROM w GROUP BY fp HAVING count(DISTINCT doc_id) BETWEEN 2 AND 20
        |), m AS (
        |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b, b.pos - a.pos AS d, a.pos AS pos_a
        |  FROM w a JOIN rare r ON a.fp = r.fp JOIN w b ON b.fp = a.fp
        |  WHERE a.doc_id < b.doc_id
        |), marked AS (
        |  SELECT id_a, id_b, d, pos_a,
        |    max(pos_a + 20) OVER (PARTITION BY id_a, id_b, d ORDER BY pos_a
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
        |  FROM m
        |), spans AS (
        |  SELECT id_a, id_b, d, pos_a,
        |    SUM(CASE WHEN prev_end IS NULL OR pos_a > prev_end THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY id_a, id_b, d ORDER BY pos_a) AS span
        |  FROM marked
        |)
        |SELECT id_a, id_b, MIN(pos_a) AS a_start, MAX(pos_a) + 20 AS a_end,
        |  MIN(pos_a) + d AS b_start, MAX(pos_a) + 20 + d AS b_end, COUNT(*) AS n_windows
        |FROM spans GROUP BY id_a, id_b, d, span""".stripMargin,
    // pre-tokenized decontamination: same synthetic token-id column, same
    // 13-gram membership test as q_decontaminate
    "q_decontaminate_tok" ->
      """WITH tk AS (
        |  SELECT doc_id, list_transform(string_split_regex(lower(trim(text)), '\s+'),
        |    s -> CAST(('0x' || substr(md5(s), 1, 15))::BIGINT AS VARCHAR)) AS tk
        |  FROM documents
        |), wins AS (
        |  SELECT doc_id, unnest(generate_series(1, len(tk) - 12)) AS pos,
        |    unnest(list_transform(generate_series(1, len(tk) - 12),
        |      i -> ('0x' || substr(md5(array_to_string(tk[i:i+12], ' ')), 1, 15))::BIGINT)) AS fp
        |  FROM tk WHERE len(tk) >= 13
        |), bfp AS (
        |  SELECT DISTINCT fp, doc_id AS bench_id FROM wins
        |  WHERE doc_id % 7 = 0 AND doc_id < 70000
        |)
        |SELECT w.doc_id AS id, count(DISTINCT w.pos) AS n_hits,
        |  count(DISTINCT b.bench_id) AS n_bench
        |FROM wins w JOIN bfp b USING (fp)
        |WHERE NOT (w.doc_id % 7 = 0 AND w.doc_id < 70000)
        |GROUP BY 1""".stripMargin,
    // benchmark decontamination: same tokenizer + md5 window fingerprints
    // as the substring-dedup oracles; bench = doc_id % 7 = 0 capped below
    // id 70k (keeps the broadcast side small at soak scale; no-op here),
    // n = 13
    "q_decontaminate" ->
      """WITH tk AS (
        |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS tk FROM documents
        |), wins AS (
        |  SELECT doc_id, unnest(generate_series(1, len(tk) - 12)) AS pos,
        |    unnest(list_transform(generate_series(1, len(tk) - 12),
        |      i -> ('0x' || substr(md5(array_to_string(tk[i:i+12], ' ')), 1, 15))::BIGINT)) AS fp
        |  FROM tk WHERE len(tk) >= 13
        |), bfp AS (
        |  SELECT DISTINCT fp, doc_id AS bench_id FROM wins
        |  WHERE doc_id % 7 = 0 AND doc_id < 70000
        |)
        |SELECT w.doc_id AS id, count(DISTINCT w.pos) AS n_hits,
        |  count(DISTINCT b.bench_id) AS n_bench
        |FROM wins w JOIN bfp b USING (fp)
        |WHERE NOT (w.doc_id % 7 = 0 AND w.doc_id < 70000)
        |GROUP BY 1""".stripMargin,
    // end-to-end cleanup pipeline: every stage reuses its individually
    // proven SQL (q_html_strip strip chain, q_url_canon canon chain,
    // q_gopher gate, q_substring_clean span removal, q_decontaminate
    // membership, q_sample_strata bucket), chained over the same synthetic
    // wrappers the Spark composition builds
    "q_clean_pipeline" ->
      ("""WITH raw AS (
        |  SELECT doc_id, lang, source, text FROM documents
        |  WHERE NOT (doc_id % 7 = 0 AND doc_id < 70000)
        |), bench AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id % 7 = 0 AND doc_id < 70000
        |), h AS (
        |  SELECT doc_id, lang, source,
        |    '<html><head><style>p { color: red; }</style><script type="text/javascript">if (x < 2 && y > 1) { alert("&amp;"); }</script></head><body><!-- crawl boilerplate --><h1>Doc '
        |    || CAST(doc_id AS VARCHAR) || '</h1><p>' || replace(text, ' ', '&nbsp;')
        |    || '</p></body></html>' AS html,
        |    'HTTPS://Ex.COM:443/' ||
        |    (CASE WHEN doc_id % 25 = 0 THEN 'shared/' || (doc_id % 2)
        |          ELSE 'u/' || doc_id END) || '?utm_source=feed&p=1#frag' AS url
        |  FROM raw
        |), stripped AS (
        |  SELECT doc_id, lang, source, url, trim(regexp_replace(
        |    replace(replace(replace(replace(replace(replace(
        |      regexp_replace(regexp_replace(regexp_replace(regexp_replace(html,
        |        '(?is)<script\b[^>]*>.*?</script>', ' ', 'g'),
        |        '(?is)<style\b[^>]*>.*?</style>', ' ', 'g'),
        |        '(?s)<!--.*?-->', ' ', 'g'),
        |        '<[^>]*>', ' ', 'g'),
        |      '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
        |      '&#39;', chr(39)), '&amp;', '&'),
        |    '\s+', ' ', 'g')) AS text
        |  FROM h
        |), c1 AS (
        |  SELECT doc_id, lang, source, text,
        |    regexp_replace(url, '#.*', '', 'g') AS u FROM stripped
        |), c2 AS (
        |  SELECT doc_id, lang, source, text,
        |    lower(regexp_extract(u, '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*', 0)) ||
        |    substr(u, length(regexp_extract(u, '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*', 0)) + 1) AS u
        |  FROM c1
        |), c3 AS (
        |  SELECT doc_id, lang, source, text, regexp_replace(regexp_replace(u,
        |    '^(http://[^/:?#]+):80([/?#]|$)', '\1\2', 'g'),
        |    '^(https://[^/:?#]+):443([/?#]|$)', '\1\2', 'g') AS u FROM c2
        |), c4 AS (
        |  SELECT doc_id, lang, source, text, regexp_extract(u, '^[^?]*', 0) AS base,
        |    CASE WHEN length(u) > length(regexp_extract(u, '^[^?]*', 0))
        |      THEN substr(u, length(regexp_extract(u, '^[^?]*', 0)) + 2) ELSE '' END AS qs
        |  FROM c3
        |), c5 AS (
        |  SELECT doc_id, lang, source, text, base,
        |    regexp_replace(regexp_replace(regexp_replace(qs,
        |      '(^|&)(utm_[A-Za-z0-9_]*|fbclid|gclid)=[^&]*', '\1', 'g'),
        |      '&&+', '&', 'g'), '^&+|&+$', '', 'g') AS qs
        |  FROM c4
        |), urld AS (
        |  SELECT doc_id, lang, source, text,
        |    regexp_replace(base || (CASE WHEN qs <> '' THEN '?' || qs ELSE '' END),
        |      '^(https?://[^/?#]+)/([?#]|$)', '\1\2', 'g') AS canon
        |  FROM c5
        |), kept_url AS (
        |  SELECT u.doc_id, u.lang, u.source, u.text
        |  FROM urld u JOIN (SELECT canon, min(doc_id) AS doc_id FROM urld GROUP BY canon) win
        |    ON u.canon = win.canon AND u.doc_id = win.doc_id
        |), qbase AS (
        |  SELECT doc_id, lang, source, text,
        |    string_split_regex(lower(trim(text)), '\s+') AS ltk,
        |    (CASE WHEN length(trim(text)) = 0 THEN 0
        |     ELSE len(string_split_regex(trim(text), '\s+')) END) AS wc,
        |    round(CAST(length(regexp_replace(text, '\s+', '', 'g')) AS DOUBLE) /
        |      greatest(len(string_split_regex(trim(text), '\s+')), 1), 4) AS mwl,
        |    round(CAST(length(regexp_replace(text, '[A-Za-z0-9\s]', '', 'g')) AS DOUBLE) /
        |      greatest(length(text), 1), 4) AS symr
        |  FROM kept_url
        |), qtri AS (
        |  SELECT doc_id, lang, source, text, wc, mwl, symr,
        |    (CASE WHEN len(ltk) < 3 THEN 0.0
        |     ELSE round(1.0 - CAST(len(list_distinct(list_transform(
        |       generate_series(1, len(ltk) - 2),
        |       i -> ltk[i] || ' ' || ltk[i+1] || ' ' || ltk[i+2]))) AS DOUBLE) /
        |       (len(ltk) - 2), 4) END) AS dup3,
        |    round(CAST(len(list_filter(ltk, t -> t IN """.stripMargin +
        stopwordsSql +
        """)) AS DOUBLE) / greatest(len(ltk), 1), 4) AS stopr
        |  FROM qbase
        |), quality AS (
        |  SELECT doc_id, lang, source, text FROM qtri
        |  WHERE wc BETWEEN 50 AND 100000 AND mwl BETWEEN 3.0 AND 10.0
        |    AND symr < 0.1 AND stopr > 0.03 AND dup3 < 0.2
        |), t2 AS (
        |  SELECT doc_id, lang, source,
        |    string_split_regex(lower(trim(text)), '\s+') AS tk FROM quality
        |), w0 AS (
        |  SELECT doc_id, unnest(list_transform(generate_series(1, len(tk) - 19),
        |    i -> struct_pack(pos := i,
        |      fp := ('0x' || substr(md5(array_to_string(tk[i:i+19], ' ')), 1, 15))::BIGINT))) AS u
        |  FROM t2 WHERE len(tk) >= 20
        |), w AS (
        |  SELECT doc_id, u.pos AS pos, u.fp AS fp FROM w0
        |), rare AS (
        |  SELECT fp FROM w GROUP BY fp HAVING count(DISTINCT doc_id) BETWEEN 2 AND 20
        |), m AS (
        |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b, b.pos - a.pos AS d, a.pos AS pos_a
        |  FROM w a JOIN rare r ON a.fp = r.fp JOIN w b ON b.fp = a.fp
        |  WHERE a.doc_id < b.doc_id
        |), marked AS (
        |  SELECT id_a, id_b, d, pos_a,
        |    max(pos_a + 20) OVER (PARTITION BY id_a, id_b, d ORDER BY pos_a
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
        |  FROM m
        |), spans AS (
        |  SELECT id_a, id_b, d, pos_a,
        |    SUM(CASE WHEN prev_end IS NULL OR pos_a > prev_end THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY id_a, id_b, d ORDER BY pos_a) AS span
        |  FROM marked
        |), agg AS (
        |  SELECT id_a, id_b, d, MIN(pos_a) AS a_start, MAX(pos_a) + 20 AS a_end
        |  FROM spans GROUP BY id_a, id_b, d, span
        |), cuts AS (
        |  SELECT id_b AS id, list(struct_pack(cs := a_start + d, ce := a_end + d)) AS cuts
        |  FROM agg GROUP BY id_b
        |), fin AS (
        |  SELECT t2.doc_id, t2.lang, t2.source, t2.tk,
        |    list_filter(t2.tk, (x, i) -> c.cuts IS NULL OR
        |      len(list_filter(c.cuts, s -> i >= s.cs AND i < s.ce)) = 0) AS kept
        |  FROM t2 LEFT JOIN cuts c ON t2.doc_id = c.id
        |), cleaned AS (
        |  SELECT doc_id, lang, COALESCE(array_to_string(kept, ' '), '') AS text,
        |    CAST(len(tk) - len(kept) AS BIGINT) AS n_cut
        |  FROM fin
        |), dtk AS (
        |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS tk FROM cleaned
        |), dwins AS (
        |  SELECT doc_id, unnest(list_transform(generate_series(1, len(tk) - 12),
        |    i -> ('0x' || substr(md5(array_to_string(tk[i:i+12], ' ')), 1, 15))::BIGINT)) AS fp
        |  FROM dtk WHERE len(tk) >= 13
        |), btk AS (
        |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS tk FROM bench
        |), bfp AS (
        |  SELECT DISTINCT unnest(list_transform(generate_series(1, len(tk) - 12),
        |    i -> ('0x' || substr(md5(array_to_string(tk[i:i+12], ' ')), 1, 15))::BIGINT)) AS fp
        |  FROM btk WHERE len(tk) >= 13
        |), contaminated AS (
        |  SELECT DISTINCT d.doc_id FROM dwins d JOIN bfp USING (fp)
        |), decon AS (
        |  SELECT * FROM cleaned
        |  WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)
        |), sampled AS (
        |  SELECT doc_id, lang, text AS text_final, n_cut,
        |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 1000000 AS bucket,
        |    CAST(CASE lang WHEN 'en' THEN 500000 WHEN 'de' THEN 250000
        |         ELSE 100000 END AS BIGINT) AS rate_ppm
        |  FROM decon
        |)
        |SELECT doc_id, lang, text_final, n_cut FROM sampled
        |WHERE bucket < rate_ppm""".stripMargin),
    // deterministic stratified sampling: bucket = first 60 bits of
    // md5(doc_id) mod 10^6, kept iff bucket < per-lang rate in ppm
    "q_sample_strata" ->
      """WITH b AS (
        |  SELECT doc_id, lang, source,
        |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 1000000 AS bucket,
        |    CAST(CASE lang WHEN 'en' THEN 500000 WHEN 'de' THEN 250000
        |         ELSE 100000 END AS BIGINT) AS rate_ppm
        |  FROM documents
        |)
        |SELECT doc_id, lang, source, bucket, rate_ppm FROM b
        |WHERE bucket < rate_ppm""".stripMargin,
    // brute-force top-k: same cosine fold as q_embed_neardup, rank ties
    // broken by item_id on both engines
    "q_ann_bruteforce" ->
      """WITH v AS (
        |  SELECT vec_id, embedding,
        |    greatest(sqrt(list_sum(list_transform(embedding,
        |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 1e-12) AS nrm
        |  FROM embeddings
        |), scored AS (
        |  SELECT q.vec_id AS q_id, i.vec_id AS item_id,
        |    round(list_sum(list_transform(list_zip(q.embedding, i.embedding),
        |      x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))) / (q.nrm * i.nrm), 6) AS cos
        |  FROM v q JOIN v i ON i.vec_id <> q.vec_id
        |  WHERE q.vec_id < 8
        |), ranked AS (
        |  SELECT q_id, item_id,
        |    row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, item_id) AS rank
        |  FROM scored
        |)
        |SELECT q_id, CAST(rank AS BIGINT) AS rank, item_id FROM ranked WHERE rank <= 5""".stripMargin,
    // portable RHP LSH: integer-quantized components (floor(x*2^20) — exact
    // in doubles) × md5-derived integer weights make every projection an
    // EXACT int64 sum, so signatures / candidates / ranks recompute
    // bit-identically here; the cosine verify is the proven round-6 fold
    "q_ann_lsh" ->
      """WITH dims0 AS (
        |  SELECT vec_id AS id, unnest(generate_series(1, len(embedding))) AS d1,
        |    unnest(embedding) AS x
        |  FROM embeddings
        |), dims AS (
        |  SELECT id, d1 - 1 AS d, CAST(floor(CAST(x AS DOUBLE) * 1048576) AS BIGINT) AS xi
        |  FROM dims0
        |), w AS (
        |  SELECT t.t, b.b, dd.d,
        |    ('0x' || substr(md5(t.t || ':' || b.b || ':' || dd.d), 1, 15))::BIGINT % 1001 - 500 AS w
        |  FROM (SELECT unnest(generate_series(0, 3)) AS t) t,
        |       (SELECT unnest(generate_series(0, 11)) AS b) b,
        |       (SELECT DISTINCT d FROM dims) dd
        |), proj AS (
        |  SELECT dims.id, w.t, w.b, SUM(dims.xi * w.w) AS p
        |  FROM dims JOIN w ON w.d = dims.d GROUP BY 1, 2, 3
        |), sig AS (
        |  SELECT id, t AS tbl,
        |    SUM(CASE WHEN p > 0 THEN (CAST(1 AS BIGINT) << b) ELSE CAST(0 AS BIGINT) END) AS sig
        |  FROM proj GROUP BY 1, 2
        |), v AS (
        |  SELECT vec_id, embedding, greatest(sqrt(list_sum(list_transform(embedding,
        |    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 1e-12) AS nrm
        |  FROM embeddings
        |), cand AS (
        |  SELECT DISTINCT q.id AS q_id, i.id AS item_id
        |  FROM sig q JOIN sig i ON q.tbl = i.tbl AND q.sig = i.sig AND i.id <> q.id
        |  WHERE q.id < 8
        |), scored AS (
        |  SELECT c.q_id, c.item_id,
        |    round(list_sum(list_transform(list_zip(qv.embedding, iv.embedding),
        |      x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))) / (qv.nrm * iv.nrm), 6) AS cos
        |  FROM cand c JOIN v qv ON qv.vec_id = c.q_id JOIN v iv ON iv.vec_id = c.item_id
        |), ranked AS (
        |  SELECT q_id, item_id,
        |    row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, item_id) AS rank
        |  FROM scored
        |)
        |SELECT q_id, CAST(rank AS BIGINT) AS rank, item_id FROM ranked WHERE rank <= 5""".stripMargin,
    // portable IVF: centroids = the md5-ordered sample (no Lloyd float
    // averaging — not cross-engine-reproducible), cells ranked by the proven
    // round-6 cosine with ties toward the smaller cell id
    "q_ann_ivf" ->
      """WITH v AS (
        |  SELECT vec_id, embedding, greatest(sqrt(list_sum(list_transform(embedding,
        |    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 1e-12) AS nrm
        |  FROM embeddings WHERE len(embedding) > 0
        |), cents AS (
        |  SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR))) AS cell,
        |    embedding AS c_vec, nrm AS c_nrm
        |  FROM v ORDER BY md5(CAST(vec_id AS VARCHAR)) LIMIT 64
        |), ac AS (
        |  SELECT v.vec_id, c.cell,
        |    row_number() OVER (PARTITION BY v.vec_id ORDER BY
        |      round(list_sum(list_transform(list_zip(v.embedding, c.c_vec),
        |        x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))) / (v.nrm * c.c_nrm), 6) DESC,
        |      c.cell) AS rn
        |  FROM v CROSS JOIN cents c
        |), ia AS (SELECT vec_id, cell FROM ac WHERE rn <= 4),
        |qa AS (SELECT vec_id, cell FROM ac WHERE rn <= 16 AND vec_id < 8),
        |cand AS (
        |  SELECT DISTINCT q.vec_id AS q_id, i.vec_id AS item_id
        |  FROM qa q JOIN ia i ON i.cell = q.cell AND i.vec_id <> q.vec_id
        |), scored AS (
        |  SELECT c.q_id, c.item_id,
        |    round(list_sum(list_transform(list_zip(qv.embedding, iv.embedding),
        |      x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))) / (qv.nrm * iv.nrm), 6) AS cos
        |  FROM cand c JOIN v qv ON qv.vec_id = c.q_id JOIN v iv ON iv.vec_id = c.item_id
        |), ranked AS (
        |  SELECT q_id, item_id,
        |    row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, item_id) AS rank
        |  FROM scored
        |)
        |SELECT q_id, CAST(rank AS BIGINT) AS rank, item_id FROM ranked WHERE rank <= 5""".stripMargin
  )

  val all: Map[String, Q] = Map(
    "q_target_subjects_of" -> qTargetSubjectsOf,
    "q_mincount" -> qMinCount,
    "q_maxcount" -> qMaxCount,
    "q_class_anti" -> qClassAnti,
    "q_pattern" -> qPattern,
    "q_range" -> qRange,
    "q_uniquelang_kernel" -> qUniqueLangKernel,
    "q_equals_symdiff" -> qEqualsSymdiff,
    "q_disjoint_semi" -> qDisjointSemi,
    "q_lessthan_pairs" -> qLessThanPairs,
    "q_path_seq_agg" -> qPathSeqAgg,
    "q_path_alt" -> qPathAlt,
    "q_path_inverse" -> qPathInverse,
    "q_closure" -> qClosure,
    "q_connected_components" -> qConnectedComponents,
    "q_mention_tokens" -> qMentionTokens,
    "q_token_count" -> qTokenCount,
    "q_quality" -> qQuality,
    "q_langid" -> qLangId,
    "q_fingerprint" -> qFingerprint,
    "q_gopher" -> qGopher,
    "q_html_strip" -> qHtmlStrip,
    "q_dedup_exact" -> qDedupExact,
    "q_minhash_lsh" -> qMinhashLsh,
    "q_simhash" -> qSimhash,
    "q_ngram_jaccard" -> qNgramJaccard,
    "q_substring_dedup" -> qSubstringDedup,
    "q_substring_clean" -> qSubstringClean,
    "q_substring_dedup_tok" -> qSubstringDedupTok,
    "q_decontaminate_tok" -> qDecontaminateTok,
    "q_minhash_cluster" -> qMinhashCluster,
    "q_repetition" -> qRepetition,
    "q_redact" -> qRedact,
    "q_url_canon" -> qUrlCanon,
    "q_decontaminate" -> qDecontaminate,
    "q_sample_strata" -> qSampleStrata,
    "q_clean_pipeline" -> qCleanPipeline,
    "q_ann_bruteforce" -> qAnnBruteForce,
    "q_ann_lsh" -> qAnnLsh,
    "q_ann_ivf" -> qAnnIvf,
    "q_embed_norm" -> qEmbedNorm,
    "q_window_agg" -> qWindowAgg,
    "q_sparql_join" -> qSparqlJoin,
    "q_sparql_agg" -> qSparqlAgg,
    "q_sparql_strfuncs" -> qSparqlStr,
    "q_sparql_group_concat" -> qSparqlGroupConcat,
    "q_sparql_graph" -> qSparqlGraph,
    "q_sparql_topk" -> qSparqlTopK,
    "q_sparql_values" -> qSparqlValues,
    "q_sparql_nps" -> qSparqlNps,
    "q_embed_neardup" -> qEmbedNearDup
  )
}
