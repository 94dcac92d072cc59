package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines.
  * All codegen'd expressions (whole-stage codegen, no UDFs) so they
  * survive a 100x scale-up inside one WholeStageCodegen span: built-in
  * `functions._` chains, plus the graft kernels [[WordShingles]] and
  * [[UrlCanon]] where a built-in chain would re-evaluate its intermediates.
  * Column-in/column-out style composes into any pipeline.
  */
object TextOps {

  /** Whitespace token count. */
  def tokenCount(text: Column): Column =
    when(length(trim(text)) === 0, lit(0))
      .otherwise(size(split(trim(text), "\\s+")))

  /** BPE-ish subword estimate: words + digit runs + punctuation clusters
    * (a cheap deterministic proxy for tokenizer counts). */
  def subwordCount(text: Column): Column =
    tokenCount(text) +
      size(regexp_extract_all(text, lit("[0-9]{2,}|[^a-zA-Z0-9\\s]{2,}"), lit(0)))

  /** Quality scoring: length, punctuation ratio, stopword ratio, mean word
    * length — the usual pretraining heuristics, rounded for stable compare. */
  private val stopwords = Seq("the", "a", "of", "and", "to", "in", "is", "it", "le", "la",
    "el", "der", "die", "und", "et", "de", "y", "que")

  def punctRatio(text: Column): Column =
    round(length(regexp_replace(text, "[a-zA-Z0-9\\s]+", "")).cast("double") /
      greatest(length(text), lit(1)), 4)

  def stopwordRatio(text: Column): Column = {
    val toks = split(lower(trim(text)), "\\s+")
    val stops = filter(toks, t => t.isin(stopwords: _*))
    round(size(stops).cast("double") / greatest(size(toks), lit(1)), 4)
  }

  def meanWordLen(text: Column): Column = {
    val toks = split(trim(text), "\\s+")
    round(length(regexp_replace(text, "\\s+", "")).cast("double") /
      greatest(size(toks), lit(1)), 4)
  }

  def qualityScore(text: Column): Column =
    round(least(length(text).cast("double") / 500.0, lit(1.0)) * 0.4 +
      (lit(1.0) - punctRatio(text)) * 0.3 + stopwordRatio(text) * 0.3, 4)

  /** n-gram-heuristic language id over a tiny stopword table; returns the
    * language whose markers hit most (deterministic tie-break by order). */
  private val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq(" the ", " and ", " of ", " is "),
    "fr" -> Seq(" le ", " la ", " et ", " est "),
    "es" -> Seq(" el ", " y ", " que ", " es "),
    "de" -> Seq(" der ", " die ", " und ", " ist "),
    "zh" -> Seq("的", "是", "了", "在"))

  def langScore(text: Column, lang: String): Column = {
    val padded = concat(lit(" "), lower(text), lit(" "))
    langMarkers.find(_._1 == lang).get._2
      .map(m => when(padded.contains(m), 1).otherwise(0))
      .reduce[Column](_ + _)
  }

  def langId(text: Column): Column = {
    // deterministic argmax: nested whens in marker order, >= later ones
    val scored = langMarkers.map { case (l, _) => (l, langScore(text, l)) }
    scored.zipWithIndex.foldRight(lit("und")) { case (((l, s), i), els) =>
      val laters = scored.drop(i + 1).map(_._2)
      val geAll = laters.foldLeft(s > 0) { (acc, o) => acc && s >= o }
      when(geAll, lit(l)).otherwise(els)
    }
  }

  /** Rolling-hash document fingerprint: md5 of the alnum-normalized text
    * (stable across engines). */
  def fingerprint(text: Column): Column =
    md5(trim(regexp_replace(lower(text), "[^a-z0-9]+", " ")))

  // ---------------------------------------------- Gopher-style filtering
  /** Duplicate word-trigram fraction (Gopher/RefinedWeb-style repetition
    * signal): 1 - distinct/total over the doc's word 3-grams; 0 when the
    * doc has fewer than 3 tokens. Boilerplate-heavy and degenerate
    * (looping) documents score high. */
  def dupTrigramFraction(text: Column): Column = {
    val sh = WordShingles.column(split(lower(trim(text)), "\\s+"), 3)
    when(size(sh) < 1, lit(0.0d))
      .otherwise(round(lit(1.0d) -
        size(array_distinct(sh)).cast("double") / size(sh), 4))
  }

  /** Symbol ratio: characters that are neither alphanumeric nor
    * whitespace, over total characters. */
  def symbolRatio(text: Column): Column =
    round(length(regexp_replace(text, "[A-Za-z0-9\\s]", "")).cast("double") /
      greatest(length(text), lit(1)), 4)

  /** Composite Gopher-style keep/drop verdict — the standard pretraining
    * document filter expressed as ONE codegen'd boolean column: word count
    * in [minWords, maxWords], mean word length in [3, 10], symbol ratio
    * below 0.1, stopword ratio above 0.03, duplicate-trigram fraction
    * below 0.2. Thresholds are parameters so corpora can tune them; every
    * term is deterministic and SQL-expressible (DuckDB-oracled as
    * q_gopher). Every signal tokenizes once per row: no lambda re-splits
    * the text per element (the trigram shingles are one [[WordShingles]]
    * call, so the filter stays linear in document length). */
  def gopherKeep(text: Column, minWords: Int = 50, maxWords: Int = 100000): Column =
    tokenCount(text).between(minWords, maxWords) &&
      meanWordLen(text).between(3.0, 10.0) &&
      (symbolRatio(text) < 0.1) &&
      (stopwordRatio(text) > 0.03) &&
      (dupTrigramFraction(text) < 0.2)

  /** Gopher repetition signals, table form — the line-level half of the
    * repetition filter ([[dupTrigramFraction]] covers the n-gram half as an
    * in-row expression; the line and top-bigram signals need per-doc
    * GROUPed counts, so they are a table operator, not a Column).
    *
    * Signals per document:
    *   - `dup_line_frac`: fraction of non-empty (trimmed) lines that are
    *     repeats of an earlier identical line — `1 - distinct/total`;
    *   - `dup_line_char_frac`: character-weighted version (characters in
    *     the 2nd..nth copies of each repeated line over all line chars) —
    *     catches one giant boilerplate block that the count-based signal
    *     underweights;
    *   - `top_bigram` / `top_bigram_frac`: the most frequent word 2-gram
    *     (ties break lexicographically, so the pick is deterministic) and
    *     the fraction of non-whitespace characters its occurrences cover.
    *
    * Shape at scale: explode lines / bigrams → two partial-aggregating
    * groupBys keyed by (doc, line|bigram) → per-doc agg + one row_number
    * window PARTITIONED by doc (never a global window). Per-key cardinality
    * is bounded by document length, so no skew beyond AQE's reach; nothing
    * is quadratic in lines (the naive in-row form is — that is why this is
    * the table form). Docs with no qualifying lines/bigrams surface with
    * 0.0 signals via the left join back to the corpus. */
  def repetitionSignals(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    // ONE projection: the line/bigram tallies are per-row pure functions of
    // the text, computed in a single codegen pass (RepetitionStats); only
    // the INTEGER tallies leave the expression — every division and
    // round(_, 4) below is the same Catalyst expression the old
    // explode+groupBy+window+join shape evaluated, so the published
    // fractions are bit-identical (and the DuckDB oracle recomputes them
    // independently). The whens mirror the old left-join absences: a doc
    // with no non-empty lines had no lineAgg row (fracs coalesced to 0.0),
    // a doc with no bigram had no topBigram row ("" / 0.0), and a null
    // text produced a base row whose branches all came up empty.
    RepetitionStats.ensure(docs.sparkSession)
    widen(docs).select(col(idCol).as("id"),
        length(regexp_replace(col(textCol), "\\s", "")).as("nw"),
        call_function("graft_repetition_stats", col(textCol),
          split(lower(trim(col(textCol))), "\\s+")).as("st"))
      .select(col("id"),
        when(col("st.total_lines") > 0,
          round(lit(1.0d) - col("st.distinct_lines").cast("double") / col("st.total_lines"), 4))
          .otherwise(lit(0.0d)).as("dup_line_frac"),
        when(col("st.total_lines") > 0,
          round(col("st.dup_chars").cast("double") /
            greatest(col("st.total_chars"), lit(1L)), 4))
          .otherwise(lit(0.0d)).as("dup_line_char_frac"),
        coalesce(col("st.top_bigram"), lit("")).as("top_bigram"),
        when(col("st.top_c") > 0,
          coalesce(round(col("st.top_c") * length(col("st.top_bigram")).cast("double") /
            greatest(col("nw"), lit(1)), 4), lit(0.0d)))
          .otherwise(lit(0.0d)).as("top_bigram_frac"))
  }

  // ----------------------------------------------------- PII redaction
  /** PII/URL redaction patterns, applied in this order (later patterns see
    * the earlier placeholders, so an email inside a URL is counted once as
    * a URL, never double-redacted). Every regex is RE2-safe (no
    * backreferences, no lookaround) so the identical pattern+order chain
    * recomputes in DuckDB and q_redact is hash-checked end-to-end. */
  val piiPatterns: Seq[(String, String)] = Seq(
    "url" -> "https?://\\S+",
    "email" -> "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}",
    "ip" -> "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b",
    "phone" -> "\\+?\\d[\\d ()-]{6,}\\d")

  /** Redact PII: returns (redacted text, per-category match counts) as a
    * sequence of named Columns — `text_redacted`, then `n_<category>` in
    * pattern order. Counts are taken on the intermediate string each
    * pattern actually saw (post earlier replacements), so they sum to the
    * number of placeholders inserted. One codegen'd projection — four
    * regexp_replace + four regexp_count, no UDFs, no shuffle. */
  def redactPii(text: Column): Seq[Column] = {
    val steps = piiPatterns.scanLeft((text, lit(0L), "")) {
      case ((cur, _, _), (cat, pat)) =>
        (regexp_replace(cur, pat, s"<${cat.toUpperCase}>"),
          regexp_count(cur, lit(pat)).cast("long"), cat)
    }.drop(1)
    steps.last._1.as("text_redacted") +:
      steps.map { case (_, n, cat) => n.as(s"n_$cat") }
  }

  /** HTML/boilerplate strip — the step every crawl corpus needs BEFORE any
    * quality signal ([[gopherKeep]] over raw markup sees tag soup as
    * symbols and drops everything). Pure codegen'd string expressions,
    * applied in the standard order:
    *   1. drop `<script>`/`<style>` elements WITH their content
    *      (case-insensitive, dotall — inline JS/CSS is not text);
    *   2. drop `<!-- comments -->`;
    *   3. replace every remaining tag with a space (tag boundaries become
    *      word boundaries: `a</p><p>b` must not fuse into `ab`);
    *   4. decode the six entities that dominate real markup — `&nbsp;`
    *      `&lt;` `&gt;` `&quot;` `&#39;` and `&amp;` LAST, so the
    *      double-escaped `&amp;lt;` correctly yields literal `&lt;`;
    *   5. collapse whitespace and trim.
    * Known regex-stripper limits (documented, standard): a `>` inside an
    * attribute value ends the tag early; an unclosed `<script>` leaks its
    * body. Every step is plain regexp_replace/replace — the identical
    * chain recomputes in DuckDB (q_html_strip is hash-checked). */
  def htmlStrip(html: Column): Column = {
    val noScript = regexp_replace(html, "(?is)<script\\b[^>]*>.*?</script>", " ")
    val noStyle = regexp_replace(noScript, "(?is)<style\\b[^>]*>.*?</style>", " ")
    val noComment = regexp_replace(noStyle, "(?s)<!--.*?-->", " ")
    val noTags = regexp_replace(noComment, "<[^>]*>", " ")
    val decoded = Seq("&nbsp;" -> " ", "&lt;" -> "<", "&gt;" -> ">",
      "&quot;" -> "\"", "&#39;" -> "'", "&amp;" -> "&")
      .foldLeft(noTags) { case (c, (ent, ch)) => replace(c, lit(ent), lit(ch)) }
    trim(regexp_replace(decoded, "\\s+", " "))
  }

  /** URL canonicalization — the normalizer in front of URL-level dedup,
    * the cheapest dedup a crawl pipeline runs (two fetches of one page
    * differ only in case, default port, fragment, and tracking params far
    * more often than in content). Standard steps, each a plain RE2-safe
    * regex, run once per row by the [[UrlCanon]] kernel (the same regex
    * chain, written as SQL, recomputes in DuckDB with the 'g' flag —
    * q_url_canon is hash-checked):
    *   1. drop the `#fragment` (never sent to the server);
    *   2. lowercase scheme + authority ONLY (paths are case-sensitive);
    *   3. strip the scheme's default port (`http…:80`, `https…:443` —
    *      a non-default port like :8443 survives);
    *   4. drop tracking params (`utm_*`, `fbclid`, `gclid`) and tidy the
    *      separators they leave behind — operating ONLY on the query
    *      component (after the first `?`): `&` is legal inside an RFC 3986
    *      path segment, so a path like `/a&utm_b=2/c` must pass through
    *      untouched rather than corrupt the dedup key;
    *   5. drop a bare root-path slash (`http://x.com/` = `http://x.com`).
    * Non-URL strings pass through mostly untouched (step 2 extracts
    * nothing, the rest match nothing). Not a full RFC 3986 resolver —
    * no percent-decoding or dot-segment removal (documented limit; both
    * alter semantics when applied blindly). */
  def urlCanon(url: Column): Column = UrlCanon.column(url)
}
