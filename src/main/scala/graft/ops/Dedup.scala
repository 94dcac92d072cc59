package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for web-scale corpora.
  *
  * Scale notes (100 TB): every variant avoids the quadratic all-pairs join —
  * exact dedup is one hash-groupBy; MinHash/SimHash bucket first (band join /
  * prefix join) so the candidate join is bounded per bucket; the verify step
  * runs only inside candidate pairs. AQE skew-join splitting covers hot
  * buckets (boilerplate-heavy shards).
  */
object Dedup {

  /** Exact duplicates: hash-groupBy on a normalized fingerprint (map-side
    * partial agg for free). Returns (fp, cnt, doc_ids) for groups > 1. */
  def exact(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.groupBy(TextOps.fingerprint(col(textCol)).as("fp"))
      .agg(count(lit(1)).as("cnt"), sort_array(collect_list(col(idCol))).as("ids"))
      .filter(col("cnt") > 1)

  /** Portable MinHash signature table: the shingle hash is md5-derived
    * (h1 = 60 bits, h2 = 60 bits mod P) and permutation i is the
    * Kirsch-Mitzenmacher double hash (h1 + i*h2) mod P with P = 2^31-1 —
    * every step is plain SQL arithmetic both engines compute
    * bit-identically, unlike xxhash64 (a Spark kernel). One explode +
    * groupBy pass with n min-aggregates — inlining the shingle expression
    * n times into one codegen stage regresses ~20x. (An xxhash64 twin
    * existed through r6; it measured no faster and could not be
    * hash-oracled, so this is the one maintained path — VERDICT r6 #7.) */
  def minhashSigPortable(docs: DataFrame, idCol: String, textCol: String,
                         n: Int = 16): DataFrame = {
    // one codegen'd shingle+md5+n-min loop per row (MinHashSig) — a pure
    // projection; the pre-r8 explode + groupBy-with-n-mins form paid a full
    // per-shingle exchange for an aggregation whose result is a per-row
    // function of the text (guide §2.4, §4). Values are bit-identical
    // (OpsSpec pins the projection to the aggregate form, and the DuckDB
    // oracle recomputes the same md5-derived mins). Docs with no shingles
    // (null text / < 3 tokens) had no signature row in the exploded form;
    // the guard filters on the CHEAP token count, not on the computed
    // signature — a sig.isNotNull filter gets pushed below widen()'s
    // exchange with the expression substituted in, running the whole
    // md5+min loop TWICE per row (guide §4.4 duplication; the r8 sig-plan
    // audit caught it as a Filter(isnotnull(graft_...)) under the
    // exchange). With the guard, the signature can never be null.
    MinHashSig.ensure(docs.sparkSession)
    widen(docs)
      .filter(size(split(lower(trim(col(textCol))), "\\s+")) >= 3)
      .select(col(idCol).as("id"),
        call_function("graft_minhash_sig",
          split(lower(trim(col(textCol))), "\\s+"), lit(3), lit(n)).as("sig"))
  }

  /** MinHash+LSH near-duplicate candidate pairs over the portable
    * signature: signatures banded into `bands`, exploded, grouped by
    * (band, literal comma-joined slice key). One shuffle to bucket, one
    * self-join *within* buckets — never all-pairs. The literal band key
    * (no hash) keeps the WHOLE pipeline — shingling, permutations,
    * banding, candidate join — recomputable in DuckDB, so q_minhash_lsh
    * is rows+schema+hash-checked, not rows-only. Returns candidate
    * (id_a, id_b, shared_bands). */
  def minhashLshPortable(docs: DataFrame, idCol: String, textCol: String,
                         n: Int = 16, bands: Int = 4): DataFrame = {
    val bandWidth = n / bands
    // signature table materialized ONCE (one array<long> row per doc):
    // both sides of the bucket self-join read the checkpoint instead of
    // re-running the shingle + md5 + n-min aggregation per side (same
    // duplicated-subplan trap as the simhash banded join — broadcast
    // joins reuse no exchange). Re-widened so the banded join streams on
    // all cores instead of the one AQE-coalesced partition.
    val sig = widen(minhashSigPortable(docs, idCol, textCol, n).localCheckpoint())
    val banded = sig.select(col("id"),
      posexplode(array((0 until bands).map(b =>
        struct(lit(b).as("band"),
          array_join(transform(slice(col("sig"), b * bandWidth + 1, bandWidth),
            x => x.cast("string")), ",").as("k"))): _*)))
      .select(col("id"), col("col.band").as("band"), col("col.k").as("k"))
    val a = banded.select(col("band"), col("k"), col("id").as("id_a"))
    val b = banded.select(col("band"), col("k"), col("id").as("id_b"))
    a.join(b, Seq("band", "k")).filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b")).agg(count(lit(1)).as("shared_bands"))
  }

  /** Portable simhash signature table: sign-aggregated 64-bit token hashes
    * -> one BIGINT per doc. Token hash = the first 64 bits of md5(token)
    * taken as two 32-bit halves, recomputable bit-identically in any engine
    * with md5 (an xxhash64 twin existed through r6 — a Spark-only kernel,
    * no faster, not hash-oracle-able; retired per VERDICT r6 #7). Through
    * r8 mid-round this was explode + 64 partial-aggregating bit-vote sums
    * (itself far better than inlining the token expression 64 times — the
    * BENCH_r01 form); now the whole vote loop is ONE codegen'd expression
    * per row ([[SimHash64]]) — a pure projection, no per-token explode and
    * no exchange into a 64-sum aggregate at all (guide §2.4, §4). Values
    * are bit-identical (OpsSpec pins the projection to the aggregate form).
    * The text.isNotNull guard mirrors the exploded form's behavior for
    * null text (explode(null) emitted no rows, so such a doc was absent);
    * every non-null text splits to >= 1 token, so the signature itself can
    * never be null — filtering on the SOURCE column instead of the
    * computed one keeps the predicate pushable to the scan without
    * substituting (and double-evaluating) the expression below widen()'s
    * exchange (guide §4.4). */
  def simhashSigPortable(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    SimHash64.ensure(docs.sparkSession)
    widen(docs).filter(col(textCol).isNotNull)
      .select(col(idCol).as("id"),
        call_function("graft_simhash64",
          split(lower(trim(col(textCol))), "\\s+")).as("sh"))
  }

  def hamming64(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** SimHash near-dup candidates within Hamming distance <= maxDist, over
    * the portable md5-based signature. Banding is derived from maxDist
    * (pigeonhole: maxDist+1 bands over 64 bits guarantee two signatures
    * within maxDist share at least one whole band) — a fixed 4-chunk layout
    * silently lost recall for dist > 3. Bands go up to 64 (1-bit bands) so
    * the pigeonhole guarantee holds for every maxDist <= 63; past ~16 bands
    * bucket pruning degrades toward the verify join paying instead (still
    * correct, just less selective). At maxDist >= 64 every pair qualifies —
    * rejected rather than silently losing recall. Candidates are a
    * guaranteed superset and the dist filter is exact, so the result set
    * EQUALS an all-pairs Hamming scan, which is what the DuckDB oracle
    * computes (q_simhash). */
  def simhashNearDupPortable(docs: DataFrame, idCol: String, textCol: String,
                             maxDist: Int = 3): DataFrame =
    simhashBandedPairs(simhashSigPortable(docs, idCol, textCol), maxDist)

  /** Banded candidate join + exact Hamming verify over a (id, sh) signature
    * frame (see [[simhashNearDupPortable]] for the pigeonhole derivation). */
  private def simhashBandedPairs(sh0: DataFrame, maxDist: Int): DataFrame = {
    require(maxDist >= 0 && maxDist < 64,
      s"maxDist must be in [0, 63] for 64-bit simhash (got $maxDist)")
    // materialize the signature table ONCE: the bucket self-join consumes
    // it as BOTH sides, and Spark re-executes the whole tokenize + md5 +
    // 64-vote aggregation per side when the join broadcasts (no exchange
    // on the join key -> no exchange reuse; the r8 plan audit measured the
    // signature pipeline duplicated operator-for-operator). The table is
    // two longs per document, so the checkpoint is tiny at any scale.
    // Re-widened after the checkpoint: AQE coalesces the tiny aggregate to
    // one partition, which would serialize the whole banded join + Hamming
    // verify (the r8 stage audit measured it as a single 1.8 s task) —
    // the join's candidate work, not the signature bytes, needs the cores.
    val sh = widen(sh0.localCheckpoint())
    val nBands = math.min(maxDist + 1, 64)
    val bounds = (0 to nBands).map(b => 64 * b / nBands)
    def bandOf(c: Column, b: Int): Column = {
      val lo = bounds(b); val width = bounds(b + 1) - lo
      val shifted = shiftrightunsigned(c, lo)
      if (width >= 64) shifted else shifted.bitwiseAND(lit((1L << width) - 1L))
    }
    val bandCols = (0 until nBands).map(b => bandOf(col("sh"), b))
    val chunked = sh.select(col("id"), col("sh"),
      posexplode(array(bandCols: _*)))
      .select(col("id"), col("sh"), col("pos").as("chunk"), col("col").as("ck"))
    val a = chunked.select(col("chunk"), col("ck"), col("id").as("id_a"), col("sh").as("sh_a"))
    val b = chunked.select(col("chunk"), col("ck"), col("id").as("id_b"), col("sh").as("sh_b"))
    // a pair that agrees on several bands collides in several chunks; emit
    // it ONLY from the first agreeing band (band b agrees iff the band
    // slice of sh_a^sh_b is 0 — bit-slicing commutes with xor), which
    // de-duplicates in the codegen'd filter itself instead of shuffling
    // every band collision (~2.5M rows at sf0.1) through a distinct. The
    // joined chunk always agrees, so firstEq <= chunk and exactly one
    // chunk passes per pair: the result SET is identical to the old
    // dist-filter + distinct.
    val xorc = col("sh_a").bitwiseXOR(col("sh_b"))
    val firstEq = (0 until nBands).foldRight(lit(nBands): Column) { (b0, els) =>
      when(bandOf(xorc, b0) === 0L, lit(b0)).otherwise(els)
    }
    a.join(b, Seq("chunk", "ck")).filter(col("id_a") < col("id_b"))
      .filter(col("chunk") === firstEq)
      .select(col("id_a"), col("id_b"), hamming64(col("sh_a"), col("sh_b")).as("dist"))
      .filter(col("dist") <= maxDist)
  }

  /** Embedding-cosine near-duplicate pairs, EXACT baseline: every (a < b)
    * pair with round(cosine, 4) >= threshold. Quadratic by design — the
    * correctness oracle for [[embeddingNearDupLsh]]; rounding before the
    * threshold keeps the boundary deterministic across engines. */
  def embeddingNearDupExact(docs: DataFrame, idCol: String, vecCol: String,
                            threshold: Double): DataFrame = {
    // norms precomputed per row (N aggregate passes) instead of per pair
    // (N^2 passes); the division order matches cosine() exactly, so the
    // rounded values are bit-identical to the naive form and the DuckDB
    // oracle. 33 s -> ~3 s on the sf0.1 benchmark table.
    ArrayDotProduct.ensure(docs.sparkSession)
    val wd = widen(docs) // both cross-join sides, or half the norms serialize
    val a = wd.select(col(idCol).as("a_id"), col(vecCol).as("a_vec"),
      Similarity.nrm(col(vecCol)).as("a_nrm"))
    val b = wd.select(col(idCol).as("b_id"), col(vecCol).as("b_vec"),
      Similarity.nrm(col(vecCol)).as("b_nrm"))
    a.crossJoin(b).filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"),
        round(Similarity.cosinePre(col("a_vec"), col("b_vec"),
          col("a_nrm"), col("b_nrm")), 4).as("cos"))
      .filter(col("cos") >= threshold)
  }

  /** Embedding-cosine near-dup, scale path: random-hyperplane LSH bucket
    * join bounds the candidate pairs (never all-pairs); exact cosine
    * verifies only inside candidates. Defaults tuned for the NEAR-DUP
    * regime (cos >= ~0.9): per-bit collision p = 1 - θ/π ≈ 0.86, so
    * 8-bit/8-table banding gives recall ≈ 0.94 at cos 0.9 and ≈ 0.999 at
    * cos 0.98; it is NOT a low-threshold similarity join (RHP recall
    * collapses below ~0.8 — use a coarser quantizer there). */
  def embeddingNearDupLsh(docs: DataFrame, idCol: String, vecCol: String,
                          threshold: Double, bits: Int = 8, tables: Int = 8): DataFrame = {
    ArrayDotProduct.ensure(docs.sparkSession)
    val sig = Similarity.rhpSigTable(docs, idCol, vecCol, bits, tables)
    val a = sig.select(col("id").as("a_id"), col("tbl"), col("sig"))
    val b = sig.select(col("id").as("b_id"), col("tbl"), col("sig"))
    val cand = a.join(b, Seq("tbl", "sig")).filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id")).distinct() // pairs collide in many tables
    val va = docs.select(col(idCol).as("a_id"), col(vecCol).as("a_vec"),
      Similarity.nrm(col(vecCol)).as("a_nrm"))
    val vb = docs.select(col(idCol).as("b_id"), col(vecCol).as("b_vec"),
      Similarity.nrm(col(vecCol)).as("b_nrm"))
    cand.join(va, "a_id").join(vb, "b_id")
      .select(col("a_id"), col("b_id"),
        round(Similarity.cosinePre(col("a_vec"), col("b_vec"),
          col("a_nrm"), col("b_nrm")), 4).as("cos"))
      .filter(col("cos") >= threshold)
  }

  /** Exact n-gram Jaccard similarity join with document-frequency-capped
    * inverted-index blocking: candidate pairs are generated only through
    * shingles whose document frequency lands in [2, maxDf] — hot shingles
    * (boilerplate) never fan out, so the candidate join is bounded per
    * shingle (the exact-join analogue of prefix filtering) — then Jaccard
    * is computed exactly over the full distinct shingle sets. Every stage
    * is plain SQL, so the whole operator is DuckDB-oracle-backed
    * (q_ngram_jaccard), unlike the hash-kernel LSH candidate generators. */
  def ngramJaccardJoin(docs: DataFrame, idCol: String, textCol: String,
                       k: Int = 3, maxDf: Int = 10,
                       minJaccard: Double = 0.1): DataFrame = {
    // the per-doc shingle-hash arrays are materialized ONCE (shingling
    // re-parses every document's text — without this, Spark's lazy
    // recompute runs the parse per consumer: df counts, both join sides,
    // and the verify arrays); a materialized shingle index is exactly what
    // a real similarity-join system keeps anyway. Shingles are carried as
    // 60-bit md5-derived
    // hashes: the verify joins intersect ~50-element arrays for every
    // candidate pair, and primitive long sets are ~3x cheaper than string
    // sets — md5 (not xxhash64) so the DuckDB oracle recomputes the exact
    // same values (collisions: ~2^-60 per pair, and identical engines
    // would collide identically anyway)
    ShingleHashes.ensure(docs.sparkSession)
    ArrayJaccard.ensure(docs.sparkSession)
    // ONE compact array<long> row per doc (distinct shingle hashes, the
    // whole tokenize+shingle+md5 chain in one codegen loop), checkpointed;
    // the exploded posting view AND the per-doc verify arrays both derive
    // from it — the old shape checkpointed the EXPLODED rows and had to
    // re-group them (a full exchange) to rebuild the verify arrays
    val hs = widen(docs).select(col(idCol).as("id"),
      call_function("graft_shingle_hashes",
        split(lower(trim(col(textCol))), "\\s+"), lit(k)).as("sh"))
      .localCheckpoint()
    val sh = hs.select(col("id"), explode(col("sh")).as("s"))
    val rare = sh.groupBy(col("s")).agg(count(lit(1)).as("df"))
      .filter(col("df").between(2, maxDf)).select(col("s"))
    val posting = sh.join(rare, "s")
    // candidate pairs straight from the bounded posting lists: per rare
    // shingle the (≤ maxDf) sorted doc ids expand to their i<j pairs in one
    // codegen'd explode, replacing the posting self-join. The collect_list
    // only ever sees df-capped shingles (the two-phase rare filter keeps
    // hot boilerplate shingles from being collected at all), so the lists
    // are bounded at any scale; the groupBy reuses the join's s-partitioning
    // so no new exchange is paid. Same candidate set as the self-join.
    // two chained generators instead of the nested transform/flatten HOF:
    // higher-order lambdas evaluate interpreted per element (the §11
    // lesson), and the r8 stage audit measured the HOF pair build as 1.0 s
    // of CPU serialized onto the 2 AQE-coalesced post-aggregate partitions.
    // posexplode picks each id_a with its index, explode(slice(...)) emits
    // its later partners — plain codegen'd Generate nodes, same (id_a,
    // id_b) set (slice clamps past the end exactly like the HOF form). The
    // round-robin repartition after the agg spreads the pair expansion
    // over all cores; it shuffles only the bounded (s, ids) rows.
    val cand = posting.groupBy(col("s"))
      .agg(sort_array(collect_list(col("id"))).as("ids"))
      .repartition(docs.sparkSession.sparkContext.defaultParallelism)
      .select(posexplode(col("ids")).as(Seq("i", "id_a")), col("ids"))
      .select(col("id_a"),
        explode(slice(col("ids"), col("i") + lit(2), size(col("ids")))).as("id_b"))
      .distinct().localCheckpoint()
    // pair-bounded frame, materialized once: it feeds the id filter AND
    // both verify joins below, which would otherwise re-run the whole
    // rare/collect/explode chain per consumer. Re-widened so the
    // per-pair array-intersect verify streams on all cores instead of
    // the one AQE-coalesced partition.
    val candW = widen(cand)
    // verify over the checkpointed per-doc shingle-hash ARRAYS.
    // Restricted to CANDIDATE docs first: the inner joins below only ever
    // read candidate rows, and at corpus scale collecting full shingle
    // arrays for every document is a full-corpus shuffle where a
    // candidate-bounded one suffices (guide §3.2 semi-join reduction).
    // explicit repartition (non-coalescable) after the tiny distinct: AQE
    // coalesces the candIds exchange to one partition, and because the
    // array-rebuild joins STREAM this side, the whole arr build plus the
    // first verify join would otherwise pipeline on a single task (the r8
    // stage audit measured it as one 1.5 s task writing the 136 MB
    // pair×array exchange)
    val candIds = cand.select(explode(array(col("id_a"), col("id_b"))).as("id"))
      .distinct()
      .repartition(docs.sparkSession.sparkContext.defaultParallelism)
    // non-coalescable layout for the array table as well: the verify joins
    // stream it (cand broadcasts), so its partition count bounds the
    // parallelism of the per-pair intersect work — AQE would coalesce the
    // ~MB-scale exchange to 1-2 partitions and serialize ~5 s of CPU.
    // The arrays are the checkpointed per-doc rows themselves (semi-join
    // to candidate docs) — no collect_list re-grouping of exploded rows;
    // the element ORDER differs from the old collect_list but the verify
    // set ops below are order-insensitive (same distinct hash sets).
    val arr = hs.join(candIds, "id")
      .repartition(docs.sparkSession.sparkContext.defaultParallelism)
    // per-pair jaccard via the merge-count expression (ArrayJaccard):
    // array_intersect + array_union build a hash set per ROW — 8.6 s of
    // task CPU on this stage in the r8 audit; the sort+merge loop returns
    // the identical round-4 value (OpsSpec pins it to the old column form)
    candW
      .join(arr.select(col("id").as("id_a"), col("sh").as("sh_a")), "id_a")
      .join(arr.select(col("id").as("id_b"), col("sh").as("sh_b")), "id_b")
      .select(col("id_a"), col("id_b"),
        call_function("graft_jaccard", col("sh_a"), col("sh_b")).as("jaccard"))
      .filter(col("jaccard") >= minJaccard)
  }

  /** Sequence-level (substring) duplicate-span detection — the pretraining
    * operator document-level dedup misses: two documents that share a long
    * boilerplate/quote run but differ elsewhere never collide on whole-doc
    * fingerprints, yet the shared run is exactly what substring dedup
    * removes before training.
    *
    * Shape (never all-pairs):
    *   1. tokenize; slide a fixed `window`-token window at `stride` over
    *      each document and fingerprint it (md5-derived 60-bit hash of the
    *      window text — plain SQL arithmetic both engines compute
    *      bit-identically, like [[minhashSigPortable]]);
    *   2. df-cap the posting lists to fingerprints seen in [2, maxDf]
    *      DISTINCT documents (same blocking as [[ngramJaccardJoin]]:
    *      boilerplate windows that occur everywhere never fan out, so the
    *      candidate join is bounded per fingerprint; counting documents,
    *      not occurrences, keeps an intra-document repeat from masking
    *      that window's cross-document duplicates);
    *   3. bucket self-join on the fingerprint → window matches
    *      (id_a, pos_a, id_b, pos_b), deduped;
    *   4. merge matches into maximal duplicated spans along each DIAGONAL
    *      d = pos_b - pos_a (consecutive/overlapping window hits with the
    *      same offset are one contiguous duplicated run): per
    *      (id_a, id_b, d), sort by pos_a and cut a new span whenever the
    *      running max of previous span ends is exceeded — two window
    *      functions, no driver loop.
    *
    * With stride = 1 every shared token run of length >= window is found
    * and its merged span is EXACT (modulo 2^-60 hash collisions); stride
    * s > 1 trades a factor-s smaller posting list for only finding runs of
    * length >= window + s - 1 (standard at real scale).
    *
    * Returns one row per maximal duplicated span:
    * (id_a, id_b, a_start, a_end, b_start, b_end, n_windows) with 1-based
    * token offsets, end exclusive: tokens[a_start, a_end) of doc a equal
    * tokens[b_start, b_end) of doc b. */
  def substringDedup(docs: DataFrame, idCol: String, textCol: String,
                     window: Int = 20, stride: Int = 1, maxDf: Int = 20): DataFrame =
    substringDedupCore(widen(docs).select(col(idCol).as("id"),
      split(lower(trim(col(textCol))), "\\s+").as("tk")), window, stride, maxDf)

  /** Pre-tokenized overload of [[substringDedup]] (VERDICT r6 #3): real
    * decontamination/dedup pipelines run over trained-tokenizer ids (or
    * bytes), not `\s+` words — `tokCol` is an existing array column
    * (array<long>/array<int> token ids, or array<string>). Elements are
    * cast to string for the window fingerprint (md5 of the space-joined
    * slice — `CAST(x AS VARCHAR)` renders integers identically in any SQL
    * engine), so an int-array corpus stays DuckDB-recomputable exactly
    * like the text path; the window/df-cap/span-merge pipeline itself is
    * tokenization-agnostic. */
  def substringDedupTokens(docs: DataFrame, idCol: String, tokCol: String,
                           window: Int = 20, stride: Int = 1, maxDf: Int = 20): DataFrame =
    substringDedupCore(widen(docs).select(col(idCol).as("id"),
      transform(col(tokCol), x => x.cast("string")).as("tk")), window, stride, maxDf)

  /** [[substringDedup]]'s engine over a pre-built (id, tk: array<string>)
    * frame — both public entry points are thin tokenization adapters. */
  private def substringDedupCore(toks0: DataFrame, window: Int, stride: Int,
                                 maxDf: Int): DataFrame = {
    require(window >= 2, s"window must be >= 2 tokens (got $window)")
    require(stride >= 1, s"stride must be >= 1 (got $stride)")
    import org.apache.spark.sql.expressions.Window
    // one pass builds (id, pos, fp); checkpointed because the frame feeds
    // the df count AND both sides of the bucket join (lazy recompute would
    // re-tokenize every document ~3x, same trap as ngramJaccardJoin).
    // Window fingerprints come from the codegen'd WindowFps loop (same
    // window bytes as WordShingles, hashed in hand — identical md5-derived
    // values, so the DuckDB oracle is unchanged). Stride subsampling keeps
    // the same 1-based positions {1, 1+stride, ...} the old sequence()
    // emitted.
    WindowFps.ensure(toks0.sparkSession)
    val toks = toks0.filter(size(col("tk")) >= window)
    val wins0 = toks.select(col("id"),
        posexplode(call_function("graft_window_fps", col("tk"), lit(window))))
      .select(col("id"), (col("pos") + 1).cast("long").as("pos"),
        col("col").as("fp"))
    val wins = (if (stride == 1) wins0
                else wins0.filter((col("pos") - 1) % stride === 0))
      .localCheckpoint()
    // df = DISTINCT documents (true document frequency): an intra-document
    // repeat must neither trip the cap (masking that window's genuine
    // cross-document duplicates) nor qualify a window no second document
    // shares (r6 self-review finding #3)
    val rare = wins.groupBy(col("fp")).agg(countDistinct(col("id")).as("df"))
      .filter(col("df").between(2, maxDf)).select(col("fp"))
    val posting = wins.join(rare, "fp")
    // no distinct: (id, pos) is unique in wins and fp is FUNCTIONAL on
    // (id, pos) — the posting self-join therefore emits each
    // (id_a, pos_a, id_b, pos_b) combination exactly once, and the
    // projection to (id_a, id_b, d = pos_b - pos_a, pos_a) is bijective in
    // pos_b, so match rows are already distinct. Dropping the distinct
    // removes one full exchange of the match set from every substring
    // query (the oracle's DISTINCT sees the same set either way).
    val matches = posting.select(col("fp"), col("id").as("id_a"), col("pos").as("pos_a"))
      .join(posting.select(col("fp"), col("id").as("id_b"), col("pos").as("pos_b")), "fp")
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), (col("pos_b") - col("pos_a")).as("d"), col("pos_a"))
    // diagonal span merge: partition (id_a, id_b, d) is one aligned run
    // family; pos_a is unique within it (see above), so the running
    // max over strictly-preceding rows marks span starts deterministically
    val byDiag = Window.partitionBy(col("id_a"), col("id_b"), col("d")).orderBy(col("pos_a"))
    val prevEnd = max(col("pos_a") + window)
      .over(byDiag.rowsBetween(Window.unboundedPreceding, -1))
    val spans = matches
      .withColumn("new_span", when(prevEnd.isNull || col("pos_a") > prevEnd, 1L).otherwise(0L))
      .withColumn("span", sum(col("new_span")).over(byDiag))
      .groupBy(col("id_a"), col("id_b"), col("d"), col("span"))
      .agg(min(col("pos_a")).as("a_start"), (max(col("pos_a")) + window).as("a_end"),
        count(lit(1)).as("n_windows"))
    spans.select(col("id_a"), col("id_b"), col("a_start"), col("a_end"),
      (col("a_start") + col("d")).as("b_start"), (col("a_end") + col("d")).as("b_end"),
      col("n_windows"))
  }

  /** Apply [[substringDedup]]'s spans: the REMOVAL half of substring dedup
    * (detection alone cleans nothing). Keep-one policy: a span's copy in
    * the lower doc id survives; the higher doc id (`id_b` — always the
    * larger by construction) loses tokens `[b_start, b_end)`. Cuts from
    * several partners union per document (a token drops if ANY span covers
    * it), so transitive chains resolve to "the smallest doc id keeps it".
    *
    * Per-doc cut lists are bounded by the same df-cap that bounds the span
    * join, so they aggregate to a small array column and the removal is
    * one codegen'd `transform`+`exists` pass over the token array — no
    * second shuffle beyond the cut groupBy.
    *
    * Returns (id, text_clean, n_cut): cleaned text is token-joined (i.e.
    * whitespace/case-normalized like every dedup operator here), n_cut =
    * tokens removed. Documents without cuts pass through normalized. */
  def substringDedupClean(docs: DataFrame, idCol: String, textCol: String,
                          window: Int = 20, stride: Int = 1, maxDf: Int = 20): DataFrame = {
    val spans = substringDedup(docs, idCol, textCol, window, stride, maxDf)
    val toks = widen(docs).select(col(idCol).as("id"),
      split(lower(trim(col(textCol))), "\\s+").as("tk"))
    applyCuts(spans, toks)
      .select(col("id"), array_join(col("kept"), " ").as("text_clean"),
        (size(col("tk")) - size(col("kept"))).cast("long").as("n_cut"))
  }

  /** Pre-tokenized twin of [[substringDedupClean]]: spans detected over
    * the token-id windows, cuts applied positionally to the ORIGINAL
    * array, so the cleaned column keeps the caller's element type
    * (array<long> ids in, array<long> ids out). Returns
    * (id, tokens_clean, n_cut). */
  def substringDedupCleanTokens(docs: DataFrame, idCol: String, tokCol: String,
                                window: Int = 20, stride: Int = 1,
                                maxDf: Int = 20): DataFrame = {
    val spans = substringDedupTokens(docs, idCol, tokCol, window, stride, maxDf)
    val toks = widen(docs).select(col(idCol).as("id"), col(tokCol).as("tk"))
    applyCuts(spans, toks)
      .select(col("id"), col("kept").as("tokens_clean"),
        (size(col("tk")) - size(col("kept"))).cast("long").as("n_cut"))
  }

  /** Keep-one cut application shared by both clean variants: union the
    * [b_start, b_end) spans per losing doc and drop covered tokens in one
    * codegen'd transform+filter pass. Returns (id, tk, kept). */
  private def applyCuts(spans: DataFrame, toks: DataFrame): DataFrame = {
    val cuts = spans.groupBy(col("id_b").as("id"))
      .agg(collect_list(struct(col("b_start").as("cs"), col("b_end").as("ce"))).as("cuts"))
    toks.join(cuts, Seq("id"), "left")
      .select(col("id"), col("tk"),
        filter(
          transform(col("tk"), (t, i) =>
            when(col("cuts").isNotNull &&
              exists(col("cuts"), c => (i + 1) >= c("cs") && (i + 1) < c("ce")),
              lit(null)).otherwise(t)),
          x => x.isNotNull).as("kept"))
  }

  /** Benchmark decontamination: flag training documents that share any
    * `n`-token window with an evaluation/benchmark corpus — the standard
    * 13-gram membership test every serious pretraining pipeline runs so
    * eval answers don't leak into the training set. Window fingerprints
    * are the same md5-derived 60-bit hashes as [[substringDedup]], so the
    * whole check recomputes bit-identically in any SQL engine.
    *
    * Shape at scale: the benchmark side is SMALL (eval suites are
    * thousands of documents, not billions) — its DISTINCT (fp, bench_id)
    * table broadcasts; the corpus side streams ONCE through tokenize →
    * window → hash-join. No self-join, no df-cap needed (fan-out is
    * bounded by the bench set, not the corpus).
    *
    * Returns one row per CONTAMINATED document: (id, n_hits = matched
    * window positions, n_bench = distinct benchmark docs sharing a
    * window). Clean documents are absent — removal is a left-anti join
    * against this table, mirroring how [[substringDedupClean]] applies
    * spans. */
  def decontaminate(docs: DataFrame, bench: DataFrame, idCol: String,
                    textCol: String, benchIdCol: String, benchTextCol: String,
                    n: Int = 13): DataFrame =
    decontaminateCore(
      widen(docs).select(col(idCol).as("id"),
        split(lower(trim(col(textCol))), "\\s+").as("tk")),
      widen(bench).select(col(benchIdCol).as("id"),
        split(lower(trim(col(benchTextCol))), "\\s+").as("tk")), n)

  /** Pre-tokenized overload of [[decontaminate]] (VERDICT r6 #3): both
    * sides are existing token-array columns (trained-tokenizer ids or
    * strings); elements cast to string feed the same md5 window
    * fingerprints, so the int-array membership test recomputes exactly in
    * DuckDB. */
  def decontaminateTokens(docs: DataFrame, bench: DataFrame, idCol: String,
                          tokCol: String, benchIdCol: String,
                          benchTokCol: String, n: Int = 13): DataFrame =
    decontaminateCore(
      widen(docs).select(col(idCol).as("id"),
        transform(col(tokCol), x => x.cast("string")).as("tk")),
      widen(bench).select(col(benchIdCol).as("id"),
        transform(col(benchTokCol), x => x.cast("string")).as("tk")), n)

  private def decontaminateCore(docsTk: DataFrame, benchTk: DataFrame,
                                n: Int): DataFrame = {
    require(n >= 2, s"window must be >= 2 tokens (got $n)")
    // same codegen'd window-fingerprint loop as substringDedupCore —
    // identical window bytes, identical md5-derived values
    WindowFps.ensure(docsTk.sparkSession)
    def wins(df: DataFrame) =
      df.filter(size(col("tk")) >= n)
        .select(col("id"), posexplode(call_function("graft_window_fps", col("tk"), lit(n))))
        .select(col("id"), (col("pos") + 1).cast("long").as("pos"),
          col("col").as("fp"))
    val b = wins(benchTk)
      .select(col("fp"), col("id").as("bench_id")).distinct()
    wins(docsTk)
      .join(broadcast(b), "fp")
      .groupBy(col("id"))
      .agg(countDistinct(col("pos")).as("n_hits"),
        countDistinct(col("bench_id")).as("n_bench"))
  }

  /** Keep-one canonicalization of MinHash+LSH near-dup candidates: the
    * step between detection and removal for DOCUMENT-level dedup (what
    * [[substringDedupClean]] is for spans). Candidate pairs become
    * undirected edges; transitive closure via the same large-star/
    * small-star connected components the KG entity canonicalizer uses
    * (log-round convergence, no label-propagation chains); each cluster's
    * canonical survivor is its minimum doc id.
    *
    * Returns (id, canon) for every document that appears in at least one
    * candidate pair — `id == canon` marks the survivor, every other row is
    * a drop instruction. Documents with no near-dup candidate are trivial
    * keepers and are omitted (at 100 TB that is the overwhelming majority;
    * emitting them would turn a small instruction table into a full-corpus
    * rewrite). Built on the portable signature so the whole chain —
    * pairs AND closure — recomputes in DuckDB (recursive min-reachability
    * CTE), making q_minhash_cluster hash-checked, unlike typical CC
    * oracles that only test a known planted structure. */
  def minhashClusters(docs: DataFrame, idCol: String, textCol: String,
                      n: Int = 16, bands: Int = 4): DataFrame = {
    val pairs = minhashLshPortable(docs, idCol, textCol, n, bands)
    val edges = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
    graft.kg.ConnectedComponents.run(docs.sparkSession, edges)
      .select(col("id"), col("component").as("canon"))
  }

  /** Exact n-gram Jaccard similarity for a candidate pair set (verify step
    * after LSH): explode-join-count, set semantics. */
  def ngramJaccard(docs: DataFrame, idCol: String, textCol: String,
                   candidates: DataFrame, k: Int = 3): DataFrame = {
    val sh = docs.select(col(idCol).as("id"),
      array_distinct(WordShingles.column(split(lower(trim(col(textCol))), "\\s+"), k)).as("sh"))
    val withA = candidates.join(sh.withColumnRenamed("id", "id_a").withColumnRenamed("sh", "sh_a"), "id_a")
    val withB = withA.join(sh.withColumnRenamed("id", "id_b").withColumnRenamed("sh", "sh_b"), "id_b")
    withB.select(col("id_a"), col("id_b"),
      round(size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
        greatest(size(array_union(col("sh_a"), col("sh_b"))), lit(1)), 4).as("jaccard"))
  }
}
