package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis column functions for LLM-data pipelines.
  *
  * Everything here is a pure `Column` expression (no UDFs) so it stays
  * inside WholeStageCodegen and scales linearly with the scan — the only
  * acceptable shape for a 100 TB documents table.
  *
  * Determinism: all functions are exact arithmetic/string ops so the
  * DuckDB oracle can replicate them bit-for-bit (see SparkEntry.oracleSql).
  */
object TextFunctions {

  /** Lowercased, whitespace-normalized text. Collapse runs FIRST, then
    * trim: `trim` strips only 0x20 spaces, so trimming first would leave
    * a tab-only document as " " (→ two empty tokens after split) instead
    * of "". The DuckDB oracle mirrors the same operation order. */
  def normText(c: Column): Column = lower(trim(regexp_replace(c, "\\s+", " ")))

  /** Whitespace tokens of an ALREADY-normalized text column. Queries that
    * need several token-derived outputs should materialize `normText` once
    * (an alias referenced more than once is not re-inlined by
    * CollapseProject — the regexp pipeline then runs once per row instead
    * of once per use site, and the per-column expression trees stay small
    * enough that codegen classes don't bloat). */
  def tokensFromNorm(norm: Column): Column =
    when(length(norm) === 0, array().cast("array<string>")).otherwise(split(norm, " "))

  /** Whitespace tokens of the normalized text; empty text → empty array. */
  def tokens(c: Column): Column = tokensFromNorm(normText(c))

  /** [[tokens]] without empty tokens and stopwords, in order and with
    * repeats: the content stream `CorpusOps.docTermCounts` counts. */
  def contentTokens(c: Column): Column = {
    val stops = allStopwords
    filter(tokens(c), t => t =!= "" && !t.isin(stops: _*))
  }

  /** HTML/markup cleanup for crawled text: strip tags, decode the common
    * entities, straighten curly quotes/dashes, collapse whitespace.
    * Entity order matters — `&amp;` is decoded LAST so `&amp;lt;` yields
    * the literal `&lt;` (not `<`), matching what the author wrote. Pure
    * string ops (replace/regexp_replace), so the DuckDB twin is exact:
    * the tag regex `<[^>]*>` has identical semantics in Java regex and
    * RE2, and `replace` is plain substring substitution in both engines.
    */
  def cleanHtml(c: Column): Column = {
    val noTags = regexp_replace(c, "<[^>]*>", " ")
    val entities = Seq(
      "&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"", "&#39;" -> "'",
      "&nbsp;" -> " ", "&amp;" -> "&")
    val decoded = entities.foldLeft(noTags) { case (acc, (k, v)) =>
      replace(acc, lit(k), lit(v))
    }
    val punct = Seq(
      "“" -> "\"", "”" -> "\"", "‘" -> "'", "’" -> "'",
      "–" -> "-", "—" -> "-")
    val straightened = punct.foldLeft(decoded) { case (acc, (k, v)) =>
      replace(acc, lit(k), lit(v))
    }
    trim(regexp_replace(straightened, "\\s+", " "))
  }

  /** Whitespace token count. */
  def tokenCount(c: Column): Column = size(tokens(c))

  /** BPE-ish pre-tokenization count: letter runs, single digits, single
    * punctuation marks (approximates a GPT-style pre-tokenizer's unit
    * count; the real BPE merge table is model-specific).
    */
  def bpeTokenCount(c: Column): Column =
    size(regexp_extract_all(lower(c), lit("[a-z]+|[0-9]|[^a-z0-9\\s]"), lit(0)))

  /** Word n-gram shingles over a PRECOMPUTED token array column. */
  def shinglesFromTokens(t: Column, n: Int): Column =
    when(size(t) <= n, array(concat_ws(" ", t)))
      .otherwise(
        transform(
          sequence(lit(1), size(t) - (n - 1)),
          i => concat_ws(" ", slice(t, i, lit(n)))
        )
      )

  /** Word n-gram shingles over whitespace tokens (n ≥ 1). Documents with
    * fewer than n tokens yield a single shingle of all tokens.
    */
  def shingles(c: Column, n: Int): Column = shinglesFromTokens(tokens(c), n)

  /** Non-overlapping `w`-token segments of a PRECOMPUTED token array —
    * the "line" unit for corpora without newline structure (tokens
    * [0,w), [w,2w), …; the final segment may be shorter). Line-granular
    * operators (boilerplate removal, within-doc dedup) take the segment
    * array rather than re-deciding segmentation, so a corpus WITH real
    * lines passes `split(text, '\n')` instead. Pure slice+join — any
    * engine replicates it exactly.
    *
    * Native kernel ([[SketchKernels.tokenSegments]]): the equivalent
    * `transform(sequence, slice+concat_ws)` HOF tree is CodegenFallback
    * and measured ~6× slower when exploded at sf0.1 — same codegen-size
    * lesson as the sketch kernels.
    */
  def segmentsFromTokens(t: Column, w: Int): Column = {
    require(w >= 1, "segment width must be >= 1")
    org.apache.spark.sql.graft.GraftColumns.column(
      TokenSegments(org.apache.spark.sql.graft.GraftColumns.expression(t), w))
  }

  /** Keep the FIRST occurrence of each distinct element of an array —
    * within-document repeated-segment removal (navigation blocks, chorus
    * lines, copy-pasted paragraphs) as a PURE PROJECTION: no shuffle, no
    * corpus state, linear scan at any corpus size. Quadratic in the
    * per-document segment count (array_position rescans the array), which
    * is bounded by document length, not corpus size.
    */
  def dedupSegments(segs: Column): Column =
    filter(segs, (s, i) => array_position(segs, s) === (i + lit(1)))

  /** Whole-document fingerprint: md5 of normalized text (stable across
    * engines; exact-dup detector key).
    */
  def fingerprint(c: Column): Column = md5(normText(c))

  /** URL canonicalization (the CommonCrawl-style curation key): strips
    * the fragment, lowercases scheme and host, drops default ports
    * (:80/:443) and a leading "www.", collapses trailing slashes on the
    * path ("" → "/"), removes `utm_*` tracking params, and sorts the
    * remaining query params — so syntactic variants of one resource
    * share one canonical key for exact dedup. Pure regex/array Column
    * ops (anchored, non-global) that any engine replays byte-for-byte.
    */
  def canonicalizeUrl(u: Column): Column = {
    val noFrag = regexp_replace(u, "#.*$", "")
    val scheme = lower(regexp_extract(noFrag, "^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    val rest = regexp_replace(noFrag, "^[A-Za-z][A-Za-z0-9+.-]*://", "")
    val hostPort = lower(regexp_extract(rest, "^([^/?]*)", 1))
    val host = regexp_replace(regexp_replace(hostPort, ":(443|80)$", ""), "^www\\.", "")
    val pathq = regexp_replace(rest, "^[^/?]*", "")
    val path0 = regexp_extract(pathq, "^([^?]*)", 1)
    val path1 = regexp_replace(path0, "/+$", "")
    val path = when(length(path1) === 0, lit("/")).otherwise(path1)
    val query = regexp_extract(pathq, "\\?(.*)$", 1)
    val params = filter(split(query, "&"), p => length(p) > 0 && !p.startsWith("utm_"))
    concat(scheme, lit("://"), host, path,
      when(size(params) > 0, concat(lit("?"), array_join(array_sort(params), "&")))
        .otherwise(lit("")))
  }

  /** Stopword lists used by quality/langid scoring (small, embedded). */
  val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "it", "that", "was"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "mit", "auf", "von"),
    "fr" -> Seq("le", "la", "les", "et", "est", "un", "une", "dans", "pour", "que"),
    "es" -> Seq("el", "la", "los", "las", "y", "es", "un", "una", "en", "por"),
    "zh" -> Seq("的", "了", "是", "我", "不", "在", "人", "有", "他", "这")
  )

  /** Number of elements of a precomputed token array in `words`. */
  def tokenHitsFromTokens(t: Column, words: Seq[String]): Column = {
    val wordArr = array(words.map(lit): _*)
    size(filter(t, x => array_contains(wordArr, x)))
  }

  /** Number of tokens that are in `words` (with repeats). */
  def tokenHits(c: Column, words: Seq[String]): Column =
    tokenHitsFromTokens(tokens(c), words)

  /** Distinct-marker overlap with `words` over a precomputed DISTINCT
    * token array (langid computes 5 overlaps — distinct once, not 5×). */
  def markerOverlapFromDistinct(dt: Column, words: Seq[String]): Column =
    size(array_intersect(dt, array(words.map(lit): _*)))

  /** Distinct-marker overlap with `words` (used by langid scoring). */
  def markerOverlap(c: Column, words: Seq[String]): Column =
    markerOverlapFromDistinct(array_distinct(tokens(c)), words)

  /** Language guess from PRECOMPUTED per-language marker-overlap columns,
    * in (language, score) order; deterministic fixed priority on ties,
    * "und" when no markers hit. */
  def langIdFromScores(scores: Seq[(String, Column)]): Column = {
    val best = scores.map(_._2).reduce((a, b) => greatest(a, b))
    scores.foldRight(lit("und")) { case ((l, s), els) => when(s === best && best > 0, lit(l)).otherwise(els) }
  }

  /** Language guess from stopword-marker overlap; deterministic fixed
    * priority (en, de, es, fr, zh) on ties, "und" when no markers hit.
    */
  def langId(c: Column): Column = {
    val order = Seq("en", "de", "es", "fr", "zh")
    langIdFromScores(order.map(l => l -> markerOverlap(c, stopwords(l))))
  }

  private val punctPattern = "[^a-z0-9\\sà-ÿ一-鿿]"

  /** Punctuation character count on a precomputed normalized-text column. */
  def punctCountFromNorm(norm: Column): Column =
    length(norm) - length(regexp_replace(norm, punctPattern, ""))

  /** Punctuation character count on normalized text. */
  def punctCount(c: Column): Column = punctCountFromNorm(normText(c))

  /** Composite quality score from PRECOMPUTED component columns:
    * 0.4·min(tokens/50,1) + 0.3·(1−punct_ratio) + 0.3·stopword_ratio.
    * Raw double (no rounding): identical arithmetic across engines. */
  def qualityScoreFrom(nTok: Column, nChars: Column, punct: Column, stopHits: Column): Column = {
    val nT = nTok.cast("double")
    val nC = nChars.cast("double")
    val punctRatio = when(nC === 0, 0d).otherwise(punct.cast("double") / nC)
    val stopRatio = when(nT === 0, 0d).otherwise(stopHits.cast("double") / nT)
    lit(0.4) * least(nT / 50d, lit(1d)) + lit(0.3) * (lit(1d) - punctRatio) + lit(0.3) * stopRatio
  }

  /** Quality score components + composite in [0,1]:
    * 0.4·min(tokens/50,1) + 0.3·(1−punct_ratio) + 0.3·stopword_ratio.
    */
  def qualityScore(c: Column): Column = {
    val allStops = stopwords.values.flatten.toSeq.distinct.sorted
    qualityScoreFrom(tokenCount(c), length(normText(c)), punctCount(c), tokenHits(c, allStops))
  }

  /** All embedded stopwords (the quality score's marker list). */
  def allStopwords: Seq[String] = stopwords.values.flatten.toSeq.distinct.sorted

  /** Duplicate word-n-gram fraction over a PRECOMPUTED token array:
    * 1 − distinct_ngrams/total_ngrams (the Gopher-style repetition
    * signal — boilerplate and generation loops score high). Raw double;
    * docs shorter than n tokens score 0.
    */
  def repetitionRatioFromTokens(t: Column, n: Int): Column = {
    val sh = shinglesFromTokens(t, n)
    when(size(t) <= n, 0d)
      .otherwise(lit(1d) - size(array_distinct(sh)).cast("double") / size(sh).cast("double"))
  }

  /** Duplicate word-n-gram fraction of the whitespace-tokenized text. */
  def repetitionRatio(c: Column, n: Int = 2): Column =
    repetitionRatioFromTokens(tokens(c), n)

  /** Overlapping fixed-size token windows over a PRECOMPUTED token array:
    * window w starts at token w·(size−overlap). The standard LLM
    * pre-training chunking shape (split long docs, keep `overlap` tokens
    * of context). Returns array<struct<chunk_idx, chunk_text, n_tokens>>
    * — explode downstream. Docs with ≤ size tokens yield one chunk; the
    * last window is the remainder (≥ 1 token, may be shorter).
    */
  def chunkTokens(t: Column, size: Int, overlap: Int): Column = {
    require(size > 0 && overlap >= 0 && overlap < size, "need 0 <= overlap < size")
    val stride = size - overlap
    // number of windows so the last one starts before the end: ceil((n - overlap) / stride), min 1
    val n = org.apache.spark.sql.functions.greatest(org.apache.spark.sql.functions.size(t), lit(1))
    val nChunks = org.apache.spark.sql.functions.greatest(ceil((n - lit(overlap)).cast("double") / stride).cast("int"), lit(1))
    transform(
      sequence(lit(0), nChunks - 1),
      w => {
        val slc = slice(t, w * stride + 1, lit(size))
        struct(
          w.cast("long").as("chunk_idx"),
          concat_ws(" ", slc).as("chunk_text"),
          org.apache.spark.sql.functions.size(slc).cast("long").as("n_tokens"))
      }
    )
  }

  // PII patterns kept to syntax that Java regex and RE2 (DuckDB) parse
  // identically, so the oracle can replicate the scrub bit-for-bit
  private val emailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val urlPattern = "https?://[^ \\t\\n]+"
  private val longNumPattern = "[0-9]{9,}"

  /** Count of email-shaped / url-shaped / long-digit-run matches. */
  def piiCounts(c: Column): Column = struct(
    size(regexp_extract_all(c, lit(emailPattern), lit(0))).cast("long").as("emails"),
    size(regexp_extract_all(c, lit(urlPattern), lit(0))).cast("long").as("urls"),
    size(regexp_extract_all(c, lit(longNumPattern), lit(0))).cast("long").as("long_numbers"))

  /** Text with PII-shaped spans replaced by typed placeholders. Order
    * matters: urls first (emails can appear inside urls), then emails,
    * then long digit runs.
    */
  def scrubPii(c: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(c, urlPattern, "<URL>"),
        emailPattern, "<EMAIL>"),
      longNumPattern, "<NUM>")
}
