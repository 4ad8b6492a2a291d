package graft.operators

import graft.functions.TextFunctions
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-level statistics and per-key capping — the curation operators
  * that need GLOBAL state (document frequency, corpus size, per-domain
  * counts) rather than per-row functions.
  *
  * Scale posture (100 TB):
  *  - vocabulary/df: explode → two-level aggregation; the first groupBy
  *    (token, doc) has map-side partial aggregation, the second is
  *    vocab-sized (≪ corpus). No countDistinct Expand — distinct-per-doc
  *    is the first grouping level.
  *  - tf-idf join: the df table is UNBOUNDED at web scale (typos, ids,
  *    numbers run the distinct-token set to billions), so it is NOT
  *    broadcast-hinted — AQE converts the join to broadcast when the
  *    table is actually small and keeps a skew-splittable shuffle join
  *    otherwise. A guaranteed-bounded broadcast variant joins against
  *    `vocabulary(topV)` instead (`tfidfTopTermsCapped`).
  *  - capPerKey: one row_number window; InferWindowGroupLimit prunes to
  *    a map-side top-k heap before the shuffle, so a hot key (one domain
  *    = half the crawl) never funnels all its rows through one reducer.
  */
object CorpusOps {

  /** Internal helper-column name — collision-safe against caller schemas
    * (a user column literally named "rn" must survive capPerKey). */
  private val RankCol = "__graft_rn"

  /** Keep at most `k` rows per key, by a total order. A single
    * `row_number ≤ k` window: Spark ≥3.5's InferWindowGroupLimit rewrites
    * this into Partial WindowGroupLimit BEFORE the shuffle (map-side
    * bounded top-k heap per key), so each reducer receives at most
    * inputPartitions·k rows per key regardless of key skew — the same
    * bound a manual salt+two-window phase gives, without its second
    * shuffle (measured 2× faster and scale-flat at 100M rows, see
    * SURVEY §8 scale probe; the plan shape is pinned by PlanAuditSpec).
    * `orderCols` must be a total order within a key (tie-break on a
    * unique id) or the kept set is nondeterministic.
    *
    * The rank rides in a collision-safe internal column and is dropped
    * before returning; pass `rankCol = Some(name)` to keep it (e.g. a
    * per-domain cap report that wants the within-key position).
    */
  def capPerKey(
      df: DataFrame,
      keyCol: String,
      orderCols: Seq[Column],
      k: Int,
      rankCol: Option[String] = None
  ): DataFrame = {
    rankCol.foreach(n => require(!df.columns.contains(n),
      s"capPerKey rankCol '$n' already exists in the input — pick another name"))
    val ranked = df
      .withColumn(RankCol, row_number().over(Window.partitionBy(col(keyCol)).orderBy(orderCols: _*)))
      .filter(col(RankCol) <= k)
    rankCol.fold(ranked.drop(RankCol))(n => ranked.withColumnRenamed(RankCol, n))
  }

  /** Per-(doc, token) counts with stopwords and empty tokens removed —
    * the shared first stage of vocabulary and tf-idf. Map-side combine
    * applies (count over an exploded projection). */
  def docTermCounts(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .select(col(idCol), explode(TextFunctions.tokens(col(textCol))).as("token"))
      .filter(col("token") =!= "" && !col("token").isin(TextFunctions.allStopwords: _*))
      .groupBy(col(idCol), col("token"))
      .agg(count(lit(1)).as("tf"))

  /** Corpus vocabulary: top `topV` tokens by total term frequency with
    * document frequency, deterministic tie-break on the token. The
    * second aggregation re-uses the (doc, token) grouping as the
    * distinct-doc count, so no count-distinct Expand is planned. */
  def vocabulary(docs: DataFrame, idCol: String, textCol: String, topV: Int): DataFrame =
    docTermCounts(docs, idCol, textCol)
      .groupBy("token")
      .agg(sum("tf").as("tf"), count(lit(1)).as("df"))
      .orderBy(col("tf").desc, col("token").asc)
      .limit(topV)

  /** Per-document out-of-vocabulary rate against the corpus top-`topV`
    * vocabulary — the tokenizer-fit / domain-shift signal (a doc whose
    * content words mostly miss the training vocab is either foreign,
    * noisy, or from an unseen domain). Measured over CONTENT tokens (the
    * same stopword-filtered stream [[vocabulary]] is built from), so a
    * stopword-only document drops out rather than scoring 0/0.
    *
    * Scale shape: tokens are pre-aggregated per (doc, token) before the
    * vocab membership test, and the vocab is `topV` rows — an explicit
    * broadcast LEFT ANTI join, so the corpus-sized side never shuffles
    * for membership; the only wide exchanges are the per-doc aggs.
    */
  def oovRate(docs: DataFrame, idCol: String, textCol: String, topV: Int): DataFrame = {
    val terms = docTermCounts(docs, idCol, textCol) // (id, token, tf)
    val vocab = terms.groupBy("token").agg(sum("tf").as("tf"))
      .orderBy(col("tf").desc, col("token").asc).limit(topV)
      .select(col("token"), lit(1).as("__in_vocab"))
    // ONE pass over the term table: vocab membership is a broadcast left
    // join marker, n_tokens and n_oov fold in the same aggregation (the
    // anti-join + re-agg + re-join alternative scans terms three times;
    // the shared terms subtree here also ReuseExchange-dedupes with the
    // vocab computation at runtime)
    terms.join(broadcast(vocab), Seq("token"), "left")
      .groupBy(idCol)
      .agg(
        sum("tf").as("n_tokens"),
        sum(when(col("__in_vocab").isNull, col("tf")).otherwise(0L)).as("n_oov"))
      .withColumn("oov_rate", col("n_oov").cast("double") / col("n_tokens").cast("double"))
  }

  /** First-failing-rule verdict expression shared by the funnel report
    * and the row-level quarantine tagger. */
  private def verdictExpr(rules: Seq[(String, Column)]): Column =
    coalesce(rules.map { case (n, c) => when(c, lit(n)) } :+ lit("kept"): _*)

  /** Curation filter funnel: ordered rules, each document attributed to
    * its FIRST failing rule (or "kept"), per-verdict counts. The
    * attribution is one coalesce-of-whens projection — a single scan,
    * one tiny aggregation, and the funnel report every curation run
    * needs (which rule is dropping the data?). */
  def filterFunnel(df: DataFrame, rules: Seq[(String, Column)]): DataFrame = {
    // group directly on the expression — no injected column, so a caller
    // column that happens to be named "verdict" can't be clobbered
    df.groupBy(verdictExpr(rules).as("verdict"))
      .agg(count(lit(1)).as("n_docs"))
  }

  /** Row-level side of [[filterFunnel]]: every row tagged with its first
    * failing rule (or "kept") — the apply step that routes failing rows
    * to a quarantine sink instead of silently dropping them (the DQ-gate
    * contract: nothing leaves the pipeline without an attributed reason).
    * A pure projection; split the result with two filters and both sinks
    * share one scan.
    */
  def quarantineTag(
      df: DataFrame,
      rules: Seq[(String, Column)],
      outCol: String = "verdict"
  ): DataFrame = {
    require(!df.columns.contains(outCol), s"quarantineTag: outCol '$outCol' already exists")
    df.withColumn(outCol, verdictExpr(rules))
  }

  /** Cross-document duplicated-span statistics (the n-gram-granularity
    * approximation of substring training-data dedup): for each document,
    * how many of its distinct word n-grams also occur in ≥ `minDf`
    * documents, and the duplicated fraction.
    *
    * Shape: the per-shingle document frequency is a two-level groupBy on
    * the shingle hash — map-side partial aggregation bounds every hot
    * shingle's shuffle contribution to one row per map partition, so a
    * boilerplate n-gram shared by 10⁸ documents (site footers, license
    * headers — exactly what this operator exists to find) costs the same
    * as a rare one. The df table is joined back onto the shingle rows
    * WITHOUT a broadcast hint: AQE broadcasts it when small and otherwise
    * keeps a shuffle join whose hot-h partitions OptimizeSkewedJoin
    * splits. (A count window over `h` — the previous shape — funnels
    * every row of a hot shingle through ONE reducer with no partial-agg
    * or skew-split escape; probed 90%-hot vs uniform in ScaleProbe.)
    * Price: the tokenize→shingle scan runs on both join sides —
    * `materializeSignatures` (containmentPairs always pins its signatures)
    * lazily localCheckpoints the (doc_id, h) table so the scan runs
    * once; flip off when recompute is cheaper than materializing the
    * shingle mass (storage-starved executors).
    */
  def duplicatedSpanStats(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      minDf: Int = 2,
      materializeSignatures: Boolean = false
  ): DataFrame = {
    val sh0 = docs.select(
      col(idCol).as("doc_id"),
      explode(DedupOps.hashedShingleSet(col(textCol), n)).as("h"))
    val sh = if (materializeSignatures) sh0.transform(Ckpt.lazyCkpt) else sh0
    val dfTable = sh.groupBy("h").agg(count(lit(1)).as("df"))
    sh.join(dfTable, "h")
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_ngrams"),
        sum(when(col("df") >= minDf, 1L).otherwise(0L)).as("n_dup"))
      .withColumn("dup_fraction", col("n_dup").cast("double") / col("n_ngrams"))
  }

  /** Per-document top term by a log-free tf-idf score: tf·N/df computed
    * as CAST(tf·N AS DOUBLE)/df — one IEEE division on integer-exact
    * inputs, so the value is bit-identical in any engine (a log-based
    * idf would differ across libm implementations). Monotone in tf and
    * 1/df, which is all a ranking needs. N rides in as a 1-row broadcast
    * (no driver-side action).
    *
    * The distinct-token df table is deliberately NOT broadcast-hinted:
    * at web-corpus scale the distinct-token set (typos, numbers, code
    * identifiers) is unbounded and a forced broadcast is a guaranteed
    * driver/executor OOM. AQE converts the join to broadcast when the
    * table is actually small; otherwise it stays a shuffle join on
    * `token` that OptimizeSkewedJoin can split. The tokenize scan feeds
    * both join sides and is NOT auto-reused (Catalyst column-prunes the
    * df branch to a distinct, so the subtrees differ — verified by plan
    * audit); `checkpointTerms = true` materializes the (doc, token)
    * counts once for both consumers, the lever to pull when the
    * tokenizer dominates. For a bounded-vocabulary ranking use
    * `tfidfTopTermsCapped`. */
  def tfidfTopTerms(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      checkpointTerms: Boolean = false
  ): DataFrame = {
    val terms0 = docTermCounts(docs, idCol, textCol)
    val terms = if (checkpointTerms) terms0.transform(Ckpt.eagerCkpt) else terms0
    val dfTable = terms.groupBy("token").agg(count(lit(1)).as("df"))
    tfidfRank(docs, idCol, terms, dfTable)
  }

  /** `tfidfTopTerms` restricted to the top-`topV` vocabulary: the df side
    * is bounded by construction (≤ topV rows whatever the corpus), so the
    * broadcast hint is safe and the corpus side never shuffles for the
    * join — the shape a 100 TB run wants when a capped vocabulary is
    * acceptable (it usually is: out-of-vocab tokens are noise by
    * definition of the cap). Documents whose every term is out-of-vocab
    * drop out. */
  def tfidfTopTermsCapped(docs: DataFrame, idCol: String, textCol: String, topV: Int): DataFrame = {
    val terms = docTermCounts(docs, idCol, textCol)
    val dfTable = vocabulary(docs, idCol, textCol, topV).select("token", "df")
    tfidfRank(docs, idCol, terms, broadcast(dfTable))
  }

  /** Rare-n-gram inverted index: posting list (sorted doc ids, joined to
    * one string) per word n-gram with document frequency ≤ `maxDf` — the
    * retrieval-side blocking structure containment dedup and
    * contamination tracing use (n = 1 indexes single tokens).
    *
    * Order of operations is the scale guard: df is computed FIRST (two-
    * level groupBy, map-side partial agg) and only grams surviving the
    * `maxDf` filter are collected — a `collect_list` before the filter
    * would materialize a boilerplate gram's 10⁸-doc posting list in one
    * aggregation buffer just to throw it away. Post-filter, every list
    * is ≤ maxDf elements by construction.
    */
  def rarePostings(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      maxDf: Int
  ): DataFrame = {
    // per-doc dedup happens MAP-SIDE (array_distinct before the explode),
    // so (doc_id, gram) rows are unique by construction — a .distinct()
    // here would be a corpus-sized extra shuffle for nothing
    val grams = docs
      .select(col(idCol).as("doc_id"),
        explode(array_distinct(TextFunctions.shingles(col(textCol), n))).as("gram"))
      .filter(col("gram") =!= "")
    val rare = grams.groupBy("gram").agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf)
    grams.join(rare, "gram")
      .groupBy("gram", "df")
      .agg(array_join(
        transform(sort_array(collect_list(col("doc_id"))), _.cast("string")), ",").as("postings"))
  }

  /** CCNet-style boilerplate removal at line/segment granularity: drop
    * every segment that occurs in MORE than `maxDf` distinct documents
    * (site footers, cookie banners, license headers), rebuild each
    * document from its surviving segments in original order.
    *
    * Input: (idCol, segsCol: array<string>) — the caller picks the
    * segmentation (real `split(text, '\n')` lines, or
    * [[graft.functions.TextFunctions.segmentsFromTokens]] for corpora
    * without line structure).
    *
    * Scale shape mirrors [[duplicatedSpanStats]]: segment df is a
    * two-level groupBy ((doc, seg) partial-agg first, so a segment shared
    * by 10⁸ docs contributes one row per map partition, never a hot-key
    * funnel), the boilerplate set joins back as an UNHINTED left-anti
    * (AQE broadcasts it when small — it usually is: boilerplate is rare
    * in DISTINCT terms — and keeps a skew-splittable shuffle join
    * otherwise). The per-doc rebuild is a collect_list bounded
    * by document length. Docs whose every segment was boilerplate (or
    * that had none) survive with empty text — dropping them is the
    * caller's policy decision, not this operator's.
    */
  def removeBoilerplateSegments(
      docs: DataFrame,
      idCol: String,
      segsCol: String,
      maxDf: Int
  ): DataFrame = {
    require(maxDf >= 1, "maxDf must be >= 1")
    val seg = docs.select(col(idCol), posexplode(col(segsCol)).as(Seq("__pos", "__seg")))
    val boiler = seg
      .groupBy(col(idCol), col("__seg")).agg(count(lit(1)).as("__c"))
      .groupBy("__seg").agg(count(lit(1)).as("__df"))
      .filter(col("__df") > maxDf)
      .select("__seg")
    val rebuilt = seg.join(boiler, Seq("__seg"), "left_anti")
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("__nk"),
        array_join(
          transform(
            array_sort(collect_list(struct(col("__pos").as("p"), col("__seg").as("s")))),
            x => x.getField("s")),
          " ").as("__txt"))
    docs.select(col(idCol), size(col(segsCol)).cast("long").as("n_seg"))
      .join(rebuilt, Seq(idCol), "left")
      .select(
        col(idCol),
        coalesce(col("__txt"), lit("")).as("clean_text"),
        col("n_seg"),
        coalesce(col("__nk"), lit(0L)).as("n_kept"))
  }

  /** Cross-document repeated-SPAN scrubbing — the APPLY side of exact
    * substring deduplication (Lee et al. 2021, "Deduplicating Training
    * Data Makes Language Models Better": duplicated long spans dominate
    * memorization; remove every occurrence except one). Row 77's
    * `duplicatedSpanStats` measures the damage; this operator repairs it:
    * any `n`-token span that also appears in a LOWER-id document (the
    * keep-min-id owner convention shared with the dedup family) has its
    * token positions removed; the owner keeps its copy, and within-doc
    * repeats are deliberately untouched (row 124's job).
    *
    * Shape — LINEAR in corpus n-grams, never quadratic and never a
    * suffix array (the paper's single-node structure doesn't shard):
    *   1. positioned n-grams (doc, i, span) via posexplode — docs with
    *      < n tokens produce none and are never scrubbed;
    *   2. owner = min(doc_id) per span — partial-agg groupBy, the same
    *      skew-safe df shape as duplicatedSpanStats;
    *   3. non-owner occurrences expand to their n covered positions
    *      (explode(sequence(i, i+n−1)) — n rows per duplicated n-gram,
    *      NOT positions × starts);
    *   4. distinct covered (doc, pos) anti-joins the position table and
    *      the survivors re-join in order (the q30 sorted-struct concat).
    * The hot boilerplate span contributes df rows to the expand —
    * linear — and its owner join is 1:1 per occurrence; AQE's skew
    * split covers the shuffle.
    *
    * Returns (id, n_tokens, n_removed, scrubbed) — scrubbed is the
    * surviving tokens joined by ' ' ('' when fully covered). */
  def scrubDuplicatedSpans(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      n: Int
  ): DataFrame = {
    require(n >= 2, "scrubDuplicatedSpans: span length must be >= 2")
    val toks = docs.select(col(idCol).as("doc_id"),
      TextFunctions.tokens(col(textCol)).as("tk"))
    val meta = toks.select(col("doc_id"), size(col("tk")).cast("long").as("n_tokens"))
    val pos = toks.select(col("doc_id"), posexplode(col("tk")).as(Seq("p0", "tok")))
      .select(col("doc_id"), (col("p0") + 1).as("p"), col("tok"))
    val ng = toks.filter(size(col("tk")) >= n)
      .select(col("doc_id"),
        posexplode(TextFunctions.shinglesFromTokens(col("tk"), n)).as(Seq("i0", "s")))
      .select(col("doc_id"), (col("i0") + 1).as("i"), col("s"))
    val owner = ng.groupBy("s").agg(min("doc_id").as("owner"))
    val covered = ng.join(owner, "s")
      .filter(col("owner") < col("doc_id"))
      .select(col("doc_id"), explode(sequence(col("i"), col("i") + (n - 1))).as("p"))
      .distinct()
    val kept = pos.join(covered, Seq("doc_id", "p"), "left_anti")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_kept"),
        array_join(
          transform(
            array_sort(collect_list(struct(col("p").as("p"), col("tok").as("t")))),
            x => x.getField("t")),
          " ").as("scrubbed"))
    meta.join(kept, Seq("doc_id"), "left")
      .select(col("doc_id").as(idCol),
        col("n_tokens"),
        (col("n_tokens") - coalesce(col("n_kept"), lit(0L))).as("n_removed"),
        coalesce(col("scrubbed"), lit("")).as("scrubbed"))
  }

  /** Gopher-style quality-rule battery (Rae et al. 2021 §A1.1.1,
    * thresholds adapted to the corpus at hand): per-document verdicts
    * for each rule, aggregated into the per-rule failure report a
    * curation run publishes next to its output. Distinct from
    * [[filterFunnel]] (first-failing-rule attribution) and
    * [[AuditOps.expectations]] (table-level contract): this is the
    * per-RULE marginal failure surface — every rule evaluated on every
    * doc, so overlapping failures are visible instead of masked by rule
    * order.
    *
    * All thresholds are integer-exact (mean-word-length bounds are
    * cross-multiplied, the top-token share is count·5 ≤ n — no
    * division anywhere), so the report replays bit-for-bit in any
    * engine. ONE corpus scan: per-doc metrics computed once, rule
    * verdicts stacked in-row and exploded, one rule-keyed partial agg
    * (plus the any_rule summary row from the same stack).
    *
    * Returns (rule, n_docs, n_fail, fail_ppm) — fail_ppm by integer
    * division.
    */
  def gopherReport(
      docs: DataFrame,
      textCol: String,
      minWords: Int = 20,
      maxWords: Int = 80,
      minMeanLen: Int = 3,
      maxMeanLen: Int = 7,
      maxWordLen: Int = 7,
      stopwords: Seq[String] = Seq("the", "a", "of", "to", "and", "in", "is", "it")
  ): DataFrame = {
    val tk = TextFunctions.tokens(col(textCol))
    val m = docs.select(
      size(tk).cast("long").as("n_words"),
      length(array_join(tk, "")).cast("long").as("n_letters"),
      coalesce(array_max(transform(tk, t => length(t))), lit(0)).cast("long")
        .as("max_len"),
      size(filter(tk, t => array_contains(
        array(stopwords.map(lit): _*), t))).cast("long").as("n_stop"),
      coalesce(array_max(transform(array_distinct(tk),
        t => size(filter(tk, x => x === t)))), lit(0)).cast("long").as("top_tok"))
    val verdicts = m.select(explode(array(
      struct(lit("word_count").as("rule"),
        (col("n_words") < minWords || col("n_words") > maxWords).as("fail")),
      struct(lit("mean_word_len").as("rule"),
        (col("n_letters") < col("n_words") * minMeanLen ||
          col("n_letters") > col("n_words") * maxMeanLen).as("fail")),
      struct(lit("max_word_len").as("rule"),
        (col("max_len") > maxWordLen).as("fail")),
      struct(lit("stopwords_min2").as("rule"),
        (col("n_stop") < 2).as("fail")),
      struct(lit("top_token_share").as("rule"),
        (col("top_tok") * 5 > col("n_words")).as("fail")),
      struct(lit("any_rule").as("rule"),
        (col("n_words") < minWords || col("n_words") > maxWords ||
          col("n_letters") < col("n_words") * minMeanLen ||
          col("n_letters") > col("n_words") * maxMeanLen ||
          col("max_len") > maxWordLen ||
          col("n_stop") < 2 ||
          col("top_tok") * 5 > col("n_words")).as("fail")))).as("v"))
    verdicts
      .groupBy(col("v.rule").as("rule"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("v.fail"), 1L).otherwise(0L)).as("n_fail"))
      .withColumn("fail_ppm", expr("n_fail * 1000000L div n_docs"))
      .orderBy("rule")
  }

  /** C4-style cleanliness battery (Raffel et al. 2020 §2.2, the
    * doc-level adaptation of the per-line web-crawl filters; the
    * punctuation/boilerplate complement of [[gopherReport]]'s
    * length/repetition battery): per rule (n_docs, n_fail, fail_ppm),
    * integer-exact. Rules —
    *   ends_terminal: trimmed text must end in . ! ? or " ;
    *   min_sentences: ≥ `minSentences` terminal-punct characters;
    *   min_words:     ≥ `minWords` normalized tokens;
    *   lorem_ipsum:   the classic template giveaway substring;
    *   curly_brace:   '{' anywhere (C4's source-code tell);
    *   policy_phrase: cookie/privacy/terms boilerplate substrings;
    *   any_rule:      OR of all of the above.
    * One scan, the explode-verdict stack [[gopherReport]] established —
    * partial-aggregated, never a per-rule re-scan.
    */
  def c4Report(
      docs: DataFrame,
      textCol: String,
      minSentences: Int = 3,
      minWords: Int = 5
  ): DataFrame = {
    val t = col(textCol)
    val low = lower(t)
    val m = docs.select(
      substring(trim(t), -1, 1).as("last_ch"),
      (length(t) - length(translate(t, ".!?", ""))).cast("long").as("n_sent"),
      size(TextFunctions.tokens(t)).cast("long").as("n_words"),
      low.contains("lorem ipsum").as("has_lorem"),
      t.contains("{").as("has_brace"),
      (low.contains("cookie policy") || low.contains("privacy policy") ||
        low.contains("terms of use")).as("has_policy"))
    val endsFail = !col("last_ch").isin(".", "!", "?", "\"")
    val sentFail = col("n_sent") < minSentences
    val wordFail = col("n_words") < minWords
    val verdicts = m.select(explode(array(
      struct(lit("ends_terminal").as("rule"), endsFail.as("fail")),
      struct(lit("min_sentences").as("rule"), sentFail.as("fail")),
      struct(lit("min_words").as("rule"), wordFail.as("fail")),
      struct(lit("lorem_ipsum").as("rule"), col("has_lorem").as("fail")),
      struct(lit("curly_brace").as("rule"), col("has_brace").as("fail")),
      struct(lit("policy_phrase").as("rule"), col("has_policy").as("fail")),
      struct(lit("any_rule").as("rule"),
        (endsFail || sentFail || wordFail || col("has_lorem") ||
          col("has_brace") || col("has_policy")).as("fail")))).as("v"))
    verdicts
      .groupBy(col("v.rule").as("rule"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("v.fail"), 1L).otherwise(0L)).as("n_fail"))
      .withColumn("fail_ppm", expr("n_fail * 1000000L div n_docs"))
      .orderBy("rule")
  }

  /** Fill-in-the-middle transform (Bavarian et al. 2022, arXiv:2207.14255
    * — the FIM objective's data side): each doc is split into
    * prefix/middle/suffix at DETERMINISTIC md5-derived cut points (the
    * md5-ring convention — a pipeline re-run emits identical training
    * rows) and re-serialized in PSM order
    * `<PRE> prefix <SUF> suffix <MID> middle`. Docs under `minTokens`
    * pass through untransformed as too short to cut (not emitted here —
    * callers union them back if wanted). Every part is guaranteed
    * non-empty: p ∈ [1, n−2], m ∈ [1, n−p−1], suffix = n−p−m ≥ 1.
    * Pure projection — no shuffle; at 100 TB this is a map-only pass.
    */
  def fimTransform(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      minTokens: Int = 4
  ): DataFrame = {
    require(minTokens >= 3, "fim needs at least 3 tokens to cut")
    val base = docs
      .select(col(idCol).as("id"), TextFunctions.tokens(col(textCol)).as("tk"))
      .withColumn("n", size(col("tk")))
      .filter(col("n") >= minTokens)
    def h(tag: String) =
      conv(substring(md5(concat(lit(s"fim_${tag}_"), col("id").cast("string"))), 1, 15),
        16, 10).cast("long")
    base
      .withColumn("p", (lit(1L) + pmod(h("a"), (col("n") - 2).cast("long"))).cast("int"))
      .withColumn("m", (lit(1L) + pmod(h("b"), (col("n") - col("p") - 1).cast("long"))).cast("int"))
      .select(col("id"),
        col("n").cast("long").as("n_tokens"),
        col("p").cast("long").as("n_prefix"),
        col("m").cast("long").as("n_middle"),
        concat(
          lit("<PRE> "), array_join(slice(col("tk"), lit(1), col("p")), " "),
          lit(" <SUF> "), array_join(slice(col("tk"), col("p") + col("m") + 1,
            col("n") - col("p") - col("m")), " "),
          lit(" <MID> "), array_join(slice(col("tk"), col("p") + 1, col("m")), " "))
          .as("fim_text"))
      .orderBy("id")
  }

  /** T5-style span-corruption transform (Raffel et al. 2020 §3.1.4 —
    * the denoising objective's data side, multi-span where [[fimTransform]]
    * is single-cut): tokens are partitioned into `blockSize`-token
    * blocks; every block of ≥ `minBlockTokens` tokens gets one
    * `spanLen`-token span masked at an md5-deterministic offset and
    * replaced by a numbered sentinel `<X_b>`; the target is the
    * sentinel-prefixed masked spans in order. Short tail blocks pass
    * through unmasked. ~spanLen/blockSize (15% at defaults) of tokens
    * mask, retry-stable, and the whole transform is one in-row
    * projection — map-only at 100 TB, like FIM.
    */
  def spanCorrupt(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      blockSize: Int = 20,
      spanLen: Int = 3,
      minBlockTokens: Int = 8
  ): DataFrame = {
    require(minBlockTokens > spanLen && blockSize >= minBlockTokens)
    val base = docs
      .select(col(idCol).as("id"), TextFunctions.tokens(col(textCol)).as("tk"))
      .withColumn("n", size(col("tk")))
      .filter(col("n") >= 1)
      .withColumn("nb", expr("(n + " + (blockSize - 1) + ") div " + blockSize))
    val parts = transform(sequence(lit(0), col("nb").cast("int") - 1), b => {
      val bt = slice(col("tk"), b * blockSize + 1, lit(blockSize))
      val L = size(bt)
      val h = conv(substring(md5(concat_ws("_", lit("t5"),
        col("id").cast("string"), b.cast("string"))), 1, 15), 16, 10).cast("long")
      val s = pmod(h, (L - spanLen).cast("long")).cast("int")
      val sentinel = concat(lit("<X_"), b.cast("string"), lit(">"))
      when(L >= minBlockTokens,
        struct(
          concat(slice(bt, lit(1), s), array(sentinel),
            slice(bt, s + spanLen + 1, L - s - spanLen)).as("corr"),
          concat(array(sentinel), slice(bt, s + 1, lit(spanLen))).as("tgt")))
        .otherwise(struct(bt.as("corr"), array().cast("array<string>").as("tgt")))
    })
    base
      .withColumn("parts", parts)
      .select(col("id"), col("n").cast("long").as("n_tokens"),
        size(flatten(transform(col("parts"), p => p.getField("tgt"))))
          .cast("long").as("n_target_tokens"),
        array_join(flatten(transform(col("parts"), p => p.getField("corr"))), " ")
          .as("corrupted"),
        array_join(flatten(transform(col("parts"), p => p.getField("tgt"))), " ")
          .as("target"))
      .orderBy("id")
  }

  /** Distinct-n generation-diversity report (the distinct-1/distinct-2
    * ratios of Li et al. 2016 applied per corpus slice): per (lang, n)
    * — total n-grams, distinct n-grams, and the distinct share in ppm.
    * A slice whose distinct-2 collapses is template/boilerplate-heavy;
    * the cheap corpus-level signal before the pairwise dedup machinery
    * runs. One scan per n, partial-aggregated counts; the distinct
    * count shuffles the gram domain once (exact by contract — swap in
    * approx_count_distinct where ±2% is acceptable at 100 TB).
    */
  def distinctNReport(docs: DataFrame, textCol: String, langCol: String): DataFrame = {
    val tk = TextFunctions.tokens(col(textCol))
    def grams(n: Int) = docs.select(col(langCol).as("lang"), lit(n).as("n"),
        explode(if (n == 1) tk else TextFunctions.shinglesFromTokens(tk, n)).as("g"))
      .filter(col("g") =!= "")
    grams(1).unionByName(grams(2))
      .groupBy("lang", "n")
      .agg(count(lit(1)).as("total"), countDistinct(col("g")).as("n_distinct"))
      .withColumn("distinct_ppm", expr("n_distinct * 1000000L div total"))
      .orderBy("lang", "n")
  }

  /** Interpolated Kneser-Ney bigram model components, top-k bigrams by
    * count (Kneser & Ney 1995; the d = 3/4 textbook discount): for each
    * (w1, w2) —
    *   p_kn = (c − d)/c(w1·) + d·N₁₊(w1·)/c(w1·) · N₁₊(·w2)/|bigram types|
    * with every component emitted as its exact integer (pair count,
    * left-context totals/types, right continuation types, corpus type
    * count) and the probability computed ONCE in a fixed double
    * evaluation order, rounded to 6 — the cross-engine-replayable core
    * of n-gram LM training. Counts are the standard partial-aggregated
    * LM pipeline: one pair groupBy + two marginal aggs + a 1-row type
    * count; the derivation joins are type-table-sized, never
    * corpus-sized.
    */
  /** Per-document cross-entropy under the corpus-trained interpolated
    * Kneser-Ney bigram LM — the APPLY side of [[knBigramTopK]] and the
    * CCNet-style LM quality gate (Wenzek et al. 2020 score documents
    * by LM perplexity; here the LM is the corpus's own, so LOW H =
    * template-like, HIGH H = novel/garbled — both tails are curation
    * signals). H is emitted in NATS (perplexity = e^H, monotone — the
    * exp is left to the reader because a second libm site would add a
    * rounding seam for zero information).
    *
    * Exactness (the text_entropy ln convention): every p_kn is the
    * fixed-order double of the train side rounded ONCE to 6 and then
    * FLOORED at 1e-6 — a rare continuation of a very frequent context
    * (c_w1 ≳ 5e5) can round to exactly 0, where Spark's log returns
    * NULL (the bigram would silently drop from the fold) and DuckDB's
    * ln errors; the clamp keeps both engines finite and identical, and
    * caps any bigram's surprisal at ~13.8 nats; each
    * ln(p) is rounded ONCE to 9 and folded count-weighted in exact
    * DECIMAL; one final division + round(9). Shape: ONE pair scan
    * feeds both the per-doc counts and (re-aggregated) the corpus
    * model; the doc→model join is bigram-type-sized on the build side
    * (the tfidf unhinted-join posture). */
  def knBigramDocScores(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tk = TextFunctions.tokens(col(textCol))
    val pairsCol = when(size(tk) >= 2,
      transform(sequence(lit(1), size(tk) - 1),
        i => struct(element_at(tk, i).as("w1"), element_at(tk, i + 1).as("w2"))))
      .otherwise(array().cast("array<struct<w1:string,w2:string>>"))
    val docBg = docs.select(col(idCol).as("id"), explode(pairsCol).as("p"))
      .groupBy(col("id"), col("p.w1").as("w1"), col("p.w2").as("w2"))
      .agg(count(lit(1)).cast("long").as("m"))
      .transform(Ckpt.lazyCkpt) // feeds the model AND the scoring join
    val bg = docBg.groupBy("w1", "w2").agg(sum("m").cast("long").as("c"))
      .transform(Ckpt.lazyCkpt)
    val byW1 = bg.groupBy("w1").agg(sum("c").as("c_w1"), count(lit(1)).as("n1p_w1"))
    val byW2 = bg.groupBy("w2").agg(count(lit(1)).as("n1p_w2"))
    val nTypes = bg.agg(count(lit(1)).as("n_types"))
    val model = bg.join(byW1, Seq("w1")).join(byW2, Seq("w2")).crossJoin(broadcast(nTypes))
      .select(col("w1"), col("w2"), greatest(round(
        (col("c") - 0.75) / col("c_w1") +
          lit(0.75) * col("n1p_w1") / col("c_w1")
            * (col("n1p_w2").cast("double") / col("n_types")), 6), lit(1e-6)).as("p_kn"))
    docBg.join(model, Seq("w1", "w2"))
      .groupBy("id")
      .agg(sum("m").cast("long").as("n_bigrams"),
        sum(col("m").cast("decimal(19,0)") *
          round(log(col("p_kn")), 9).cast("decimal(18,9)"))
          .cast("decimal(38,9)").cast("double").as("sum_ln"))
      .select(col("id"), col("n_bigrams"),
        round(-col("sum_ln") / col("n_bigrams").cast("double"), 9).as("cross_entropy_nats"))
  }

  def knBigramTopK(docs: DataFrame, textCol: String, topK: Int = 30): DataFrame = {
    val tk = TextFunctions.tokens(col(textCol))
    val pairsCol = when(size(tk) >= 2,
      transform(sequence(lit(1), size(tk) - 1),
        i => struct(element_at(tk, i).as("w1"), element_at(tk, i + 1).as("w2"))))
      .otherwise(array().cast("array<struct<w1:string,w2:string>>"))
    val bg = docs.select(explode(pairsCol).as("p"))
      .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("c"))
      // one materialization feeds the pair table + both marginals + the
      // type count (the pruneCells fan-out pattern)
      .transform(Ckpt.lazyCkpt)
    val byW1 = bg.groupBy("w1").agg(sum("c").as("c_w1"), count(lit(1)).as("n1p_w1"))
    val byW2 = bg.groupBy("w2").agg(count(lit(1)).as("n1p_w2"))
    val nTypes = bg.agg(count(lit(1)).as("n_types"))
    bg.join(byW1, Seq("w1")).join(byW2, Seq("w2")).crossJoin(broadcast(nTypes))
      .withColumn("p_kn", round(
        (col("c") - 0.75) / col("c_w1") +
          lit(0.75) * col("n1p_w1") / col("c_w1")
            * (col("n1p_w2").cast("double") / col("n_types")), 6))
      .orderBy(col("c").desc, col("w1"), col("w2"))
      .limit(topK)
      .select(col("w1"), col("w2"), col("c").as("n_pair"),
        col("c_w1").as("n_left_total"), col("n1p_w1").as("n_left_types"),
        col("n1p_w2").as("n_right_types"), col("n_types"), col("p_kn"))
      .orderBy(col("n_pair").desc, col("w1"), col("w2"))
  }

  /** Memory-bounded span scrubbing via winnowing-selected owners
    * (round-9 verdict item 8): [[scrubDuplicatedSpans]] positions EVERY
    * corpus n-gram — linear, but the positioned-gram table is
    * tokens-sized. This variant positions only the ~2n/w
    * winnowing-SELECTED grams ([[DedupOps.winnowFingerprints]]), owns
    * each selected hash by min doc id, and scrubs the k-token extent of
    * every selected gram whose hash an earlier doc also selected.
    *
    * Coverage guarantee (requires w ≤ k): inside a cross-doc shared run
    * of ≥ w+k−1 tokens, consecutive selections sit ≤ w gram positions
    * apart (every w-window selects, and selection depends only on run
    * content for windows fully inside the run), so the k-wide extents
    * tile the interior with no gaps; at most w−1 tokens survive at each
    * run edge. A doc that merely CONTAINS a shared gram without
    * selecting it is not scrubbed for it — the selected-gram subsample
    * IS the memory bound (1/w of positions), and the edge slack is the
    * price of it; [[scrubDuplicatedSpans]] remains the exact-coverage
    * tool where the positioned-gram table fits.
    *
    * Same output contract as [[scrubDuplicatedSpans]]:
    * (id, n_tokens, n_removed, scrubbed). */
  def scrubWinnowedSpans(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 4,
      w: Int = 4
  ): DataFrame = {
    require(w <= k, "scrubWinnowedSpans: interior coverage needs w <= k")
    val fps = DedupOps.winnowFingerprints(docs, textCol, idCol, k, w)
    val owner = fps.groupBy("fp_hash").agg(min("id").as("owner"))
    val covered = fps.join(owner, "fp_hash")
      .filter(col("owner") < col("id"))
      .select(col("id").as("doc_id"),
        explode(sequence(col("fp_pos"), col("fp_pos") + (k - 1))).as("p0"))
      .distinct()
    val toks = docs.select(col(idCol).as("doc_id"),
      TextFunctions.tokens(col(textCol)).as("tk"))
    val meta = toks.select(col("doc_id"), size(col("tk")).cast("long").as("n_tokens"))
    val pos = toks.select(col("doc_id"), posexplode(col("tk")).as(Seq("p0", "tok")))
    val kept = pos.join(covered, Seq("doc_id", "p0"), "left_anti")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_kept"),
        array_join(
          transform(
            array_sort(collect_list(struct(col("p0").as("p"), col("tok").as("t")))),
            x => x.getField("t")),
          " ").as("scrubbed"))
    meta.join(kept, Seq("doc_id"), "left")
      .select(col("doc_id").as(idCol),
        col("n_tokens"),
        (col("n_tokens") - coalesce(col("n_kept"), lit(0L))).as("n_removed"),
        coalesce(col("scrubbed"), lit("")).as("scrubbed"))
  }

  /** BM25 top-k retrieval over the corpus for a bag of query terms — the
    * search/inspection primitive a curation pipeline uses to audit what
    * the corpus contains ("show me the strongest matches for X").
    *
    * Log-free variant: the idf factor is the raw odds ratio
    * `(N - df + 0.5)/(df + 0.5)` instead of its logarithm — monotone in
    * df like the classic form, but bit-identical across engines (ln()
    * differs across libm implementations; same reasoning as
    * [[tfidfTopTerms]]'s log-free score). Per-term contributions are
    * rounded to 4 decimals and summed as DECIMAL so the per-document
    * score is independent of summation order — replay-stable.
    *
    * Scale: each row is tokenized once; its content tokens give the
    * document length and the query-term occurrences in one staged select,
    * and one hash aggregate on the id turns those into one row per id
    * (length, one tf per query term). No (doc, token) table of the full
    * vocabulary is built or shuffled. df and the corpus length total come
    * from a one-row aggregate over that per-id frame, N from a row count
    * of `docs`; both ride broadcast. An id on several rows gets its tf,
    * length and df summed over its rows, and N counts rows. Top-k is a
    * global orderBy+limit — TakeOrderedAndProject, a per-partition heap
    * plus a driver merge of k rows, no global sort.
    */
  def bm25TopK(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      queryTerms: Seq[String],
      k: Int,
      k1: Double = 1.2,
      b: Double = 0.75
  ): DataFrame = {
    require(queryTerms.nonEmpty, "bm25TopK needs at least one query term")
    val terms = queryTerms.distinct
    val tf = terms.indices.map(i => col(s"__tf$i"))
    val perId = docs
      .select(col(idCol), TextFunctions.contentTokens(col(textCol)).as("__ct"))
      .select(col(idCol), array_size(col("__ct")).as("__dl"),
        filter(col("__ct"), _.isin(terms: _*)).as("__qt"))
      .groupBy(col(idCol))
      .agg(sum("__dl").as("__dl"), terms.zipWithIndex.map { case (t, i) =>
        sum(array_size(filter(col("__qt"), _ === t))).as(s"__tf$i")
      }: _*)
    val totals = perId
      .agg(sum("__dl").cast("double").as("__tot"),
        tf.zipWithIndex.map { case (c, i) => count(when(c > 0, lit(1))).as(s"__df$i") }: _*)
      .crossJoin(docs.agg(count(lit(1)).as("__n")))
    def contrib(tf: Column, df: Column): Column =
      ((col("__n").cast("double") - df + lit(0.5)) / (df + lit(0.5))) *
        ((tf * lit(k1 + 1.0)) /
          (tf + lit(k1) * (lit(1.0 - b) + lit(b) * col("__dl") / (col("__tot") / col("__n")))))
    val matched = tf.map(_ > 0)
    // per-term contributions rounded to 4 places and added as DECIMAL:
    // an exact sum, so the score does not depend on the term order
    val score = terms.indices.map { i =>
      when(matched(i), round(contrib(tf(i), col(s"__df$i")), 4).cast("decimal(18,4)"))
        .otherwise(lit(0).cast("decimal(18,4)"))
    }.reduce(_ + _)
    perId.filter(matched.reduce(_ || _))
      .crossJoin(broadcast(totals))
      .select(col(idCol),
        matched.map(m => when(m, 1L).otherwise(0L)).reduce(_ + _).as("n_terms"),
        score.cast("double").as("score"))
      .orderBy(col("score").desc, col(idCol))
      .limit(k)
  }

  /** Feature-hashed (hashing-trick) document vectors in sparse COO form:
    * (doc, bucket, tf) with bucket = md5-derived hash of the token mod
    * `dim` — fixed-dimension featurization with NO vocabulary table, the
    * only featurizer that needs zero corpus-global state (no fit step, no
    * broadcast, no OOV handling) and therefore composes with streaming
    * and incremental batches unchanged. Sparse rows rather than dense
    * arrays: downstream aggregation (mean pooling, linear scoring) works
    * directly on COO, and a 10⁶-dim space costs only the nonzeros.
    * md5-prefix hashing (not xxhash) so any engine reproduces the
    * bucketing bit-for-bit — same idiom as SplitOps' md5 grains.
    * One explode + one map-side-combined groupBy; ≤ min(tokens, dim)
    * rows per doc by construction.
    */
  def hashedFeatures(docs: DataFrame, idCol: String, textCol: String, dim: Int): DataFrame = {
    require(dim >= 1, "dim must be >= 1")
    docTermCounts(docs, idCol, textCol)
      .select(col(idCol),
        pmod(conv(substring(md5(col("token")), 1, 8), 16, 10).cast("long"), lit(dim))
          .cast("int").as("bucket"),
        col("tf"))
      .groupBy(col(idCol), col("bucket"))
      .agg(sum("tf").as("tf"))
  }

  /** Corpus-wide top-`k` word n-grams by total occurrence count, with
    * document frequency — the boilerplate/watermark miner ("which exact
    * phrases repeat across the crawl"). Same two-level aggregation shape
    * as [[vocabulary]]: the (doc, gram) grouping has map-side combine
    * and doubles as the distinct-doc count, so no countDistinct Expand;
    * the second groupBy is gram-vocabulary-sized. Top-k is
    * TakeOrderedAndProject (per-partition heap + k-row driver merge).
    * Shingles come from the SAME kernel the dedup family uses
    * (TextFunctions.shinglesFromTokens), so a phrase this report
    * surfaces is literally a key the containment/span operators block
    * on.
    */
  def ngramTopK(docs: DataFrame, idCol: String, textCol: String, n: Int, k: Int): DataFrame =
    docs
      // tokens MATERIALIZED in their own projection before the explode:
      // inlined into Generate, the tokenize regex re-runs once per
      // expression reference — and inside transform's lambda, once per
      // SHINGLE (O(tokens²) regex work per document). The plan must show
      // Project(__tk) under Generate, not split() inside the generator.
      .select(col(idCol), TextFunctions.tokens(col(textCol)).as("__tk"))
      .select(col(idCol),
        explode(TextFunctions.shinglesFromTokens(col("__tk"), n)).as("gram"))
      .groupBy(col(idCol), col("gram"))
      .agg(count(lit(1)).as("occ"))
      .groupBy("gram")
      .agg(sum("occ").as("occurrences"), count(lit(1)).as("df"))
      .orderBy(col("occurrences").desc, col("gram").asc)
      .limit(k)

  /** Linear-model inference over hashed features — the apply side of a
    * fastText-style quality classifier, run at corpus scale with ZERO
    * model state in the plan: weights are derived per-bucket from
    * md5("w:" bucket), so the score is engine-portable and the oracle
    * replays it exactly. In production the `when`-derived weight column
    * becomes a broadcast join against a real weight table (dim rows —
    * always broadcastable since dim is the model's fixed width); the
    * plan shape is identical.
    *
    * Scores are INTEGER milli-units: weight w(b) ∈ [-1000, 1000] (md5
    * mod 2001, centered), score_milli = Σ tf·w(b) — exact bigint
    * arithmetic, no float summation order to stabilize. `kept` is the
    * sign-threshold verdict. One explode + two map-side-combined
    * groupBys (the hashedFeatures shape) — no corpus-global state, so
    * it composes with streaming/incremental batches unchanged.
    */
  def linearModelScore(docs: DataFrame, idCol: String, textCol: String, dim: Int): DataFrame =
    hashedFeatures(docs, idCol, textCol, dim)
      .withColumn("w",
        pmod(conv(substring(md5(concat_ws(":", lit("w"), col("bucket"))), 1, 8), 16, 10)
          .cast("long"), lit(2001L)) - 1000L)
      .groupBy(col(idCol))
      .agg(sum(col("tf") * col("w")).as("score_milli"))
      .withColumn("kept", col("score_milli") > 0L)

  /** 1-based dense rank of an ALREADY-TRUNCATED result list (≤ fusion
    * depth rows) by `scoreCol` desc, ties broken by `idCol` asc —
    * computed with a count-of-better self-join instead of a global
    * `row_number` window, because `Window.orderBy` with no partition
    * funnels through one partition AND warns in the log on every run
    * (the zorder lesson). On a depth-bounded frame the nested-loop join
    * is depth² ≪ any shuffle; do NOT use this on an unbounded frame.
    */
  def rankFromScore(df: DataFrame, idCol: String, scoreCol: String): DataFrame = {
    val x = df.select(col(idCol), col(scoreCol))
    x.as("a")
      .join(x.as("b"),
        col(s"b.$scoreCol") > col(s"a.$scoreCol") ||
          (col(s"b.$scoreCol") === col(s"a.$scoreCol") && col(s"b.$idCol") < col(s"a.$idCol")),
        "left")
      .groupBy(col(s"a.$idCol").as(idCol))
      .agg((count(col(s"b.$idCol")) + 1).cast("int").as("rank"))
  }

  /** Reciprocal-rank fusion of N ranked lists: score(id) =
    * Σ_lists 1/(c + rank). The standard hybrid-retrieval combiner
    * (lexical BM25 rank ⊕ embedding cosine rank) — rank-based, so the
    * two scores need no calibration against each other. Per-list
    * contributions are rounded to 6 decimals and summed as DECIMAL so
    * the fused score is independent of union/partition order (the
    * bm25TopK idiom). Inputs are (idCol, rankCol) frames that are
    * ALREADY top-depth truncated — the union is lists·depth rows, a
    * driver-negligible frame at any corpus size (fusion cost is bounded
    * by depth, not corpus).
    */
  def rrfFuse(
      rankings: Seq[DataFrame],
      idCol: String,
      rankCol: String,
      k: Int,
      c: Int = 60
  ): DataFrame = {
    require(rankings.nonEmpty, "rrfFuse needs at least one ranking")
    val contribs = rankings.map { r =>
      r.select(col(idCol),
        round(lit(1.0) / (lit(c) + col(rankCol)), 6).cast("decimal(18,6)").as("__c"))
    }.reduce(_ union _)
    contribs
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_lists"),
        sum("__c").cast("decimal(38,6)").cast("string").cast("double").as("rrf"))
      .orderBy(col("rrf").desc, col(idCol).asc)
      .limit(k)
  }

  /** Per-key score calibration: exact percent_rank of `scoreCol` within
    * each `keyCol` group (ties broken by `tieCol` for a total order), so
    * one global threshold like "keep the top 20%" applies uniformly
    * across domains with different score distributions — the standard
    * fix for quality classifiers that systematically favor one domain.
    *
    * Exact ranks per key WITHOUT a per-key sort partition: a single key
    * can hold half a 100 TB corpus, so `Window.partitionBy(key)` is a
    * hot partition exactly like no-partition-at-all. Instead the rank
    * runs on the grouped banded core (RankOps.groupedBandedRank, band =
    * key × 1/65536 score slice — in-band windows bounded by how many of
    * a key's rows share a score slice; widen the band factor to recurse
    * at extreme scale) and percent_rank is reassembled closed-form as
    * (rank−1)/(n−1).
    *
    * Semantics = SQL `percent_rank() OVER (PARTITION BY key ORDER BY
    * score, tie)`: the tie column is PART of the rank order (so tied
    * scores get distinct, tie-ordered values — the oracle-pinned
    * contract), which is exact iff (score, tie) is a total order within
    * each key. That precondition was previously a doc note only
    * (round-8 advisor item 3: a non-total tie order silently yields
    * nondeterministic per-tie values); set
    * `spark.graft.calibrate.checkTies=true` to enforce it with one
    * duplicate-probe aggregation that FAILS on the first violating
    * (key, score, tie) group.
    */
  def calibrateByKey(
      df: DataFrame,
      keyCol: String,
      scoreCol: String,
      tieCol: String,
      outCol: String = "pct_rank"
  ): DataFrame = {
    require(!df.columns.contains(outCol), s"calibrateByKey: outCol '$outCol' already exists")
    val banded = df.withColumn("__qb", floor(col(scoreCol).cast("double") * 65536).cast("long"))
    val ranked = RankOps.groupedBandedRank(banded,
      groupCols = Seq(keyCol), bandCols = Seq("__qb"),
      bandSort = Seq(col("__qb").asc),
      rowSort = Seq(col(scoreCol).asc, col(tieCol).asc),
      rankName = "__rk")
    if (df.sparkSession.conf
        .getOption("spark.graft.calibrate.checkTies").exists(_.toBoolean)) {
      val dup = df.groupBy(col(keyCol), col(scoreCol), col(tieCol))
        .agg(count(lit(1)).as("__c")).filter(col("__c") > 1).limit(1).collect()
      require(dup.isEmpty,
        s"calibrateByKey: ($keyCol, $scoreCol, $tieCol) is not a total order — " +
          s"duplicate group ${dup.headOption.mkString} would make pct_rank " +
          "values tie-order-dependent; add a discriminating tie column")
    }
    val totals = df.groupBy(keyCol).agg(count(lit(1)).as("__n"))
    ranked.join(broadcast(totals), Seq(keyCol))
      .withColumn(outCol,
        when(col("__n") === 1, lit(0.0)) // SQL percent_rank of a 1-row partition
          .otherwise((col("__rk") - 1).cast("double") / (col("__n") - 1).cast("double")))
      .drop("__qb", "__rk", "__n")
  }

  /** BPE merge-step candidates: the top-`topK` adjacent CHARACTER pairs
    * across the corpus, weighted by word frequency — the statistic the
    * first iteration of byte-pair-encoding tokenizer training maximizes.
    *
    * Scale: the corpus is scanned ONCE to build the (token, tf) vocab
    * (map-side-combined groupBy); the character-pair explode then runs
    * over the VOCAB (≪ corpus — the whole point of training BPE on a
    * word-count table rather than raw text). A pair repeated inside one
    * word ("aaa" → "a a" twice) counts per occurrence, matching the
    * classic algorithm.
    */
  def bpePairCounts(docs: DataFrame, textCol: String, topK: Int): DataFrame = {
    val vocab = docs
      .select(explode(TextFunctions.tokens(col(textCol))).as("tok"))
      .filter(col("tok") =!= "")
      .groupBy("tok")
      .agg(count(lit(1)).as("tf"))
    // sequence(1, len-1) would generate a DESCENDING [1,0] for 1-char
    // tokens (Spark sequence semantics) — guard to an empty pair list
    val pairs = transform(
      sequence(lit(1), length(col("tok")) - 1),
      i => concat(col("tok").substr(i, lit(1)), lit(" "), col("tok").substr(i + 1, lit(1))))
    vocab
      .select(col("tok"), col("tf"),
        explode(when(length(col("tok")) >= 2, pairs)
          .otherwise(array().cast("array<string>"))).as("pair"))
      .groupBy("pair")
      .agg(sum("tf").as("weighted_count"), countDistinct("tok").as("n_word_types"))
      .orderBy(col("weighted_count").desc, col("pair").asc)
      .limit(topK)
  }

  private def tfidfRank(docs: DataFrame, idCol: String, terms: DataFrame, dfTable: DataFrame): DataFrame = {
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val scored = terms
      .join(dfTable, "token")
      .crossJoin(broadcast(n))
      .withColumn("score", (col("tf") * col("n_docs")).cast("double") / col("df"))
    val w = Window.partitionBy(col(idCol)).orderBy(col("score").desc, col("token").asc)
    scored
      .withColumn(RankCol, row_number().over(w))
      .filter(col(RankCol) === 1)
      .select(col(idCol), col("token").as("term"), col("tf"), col("df"), col("score"))
  }

  /** RAKE-style keyphrase extraction (Rose et al. 2010), ratio-of-sums
    * scoring: candidate phrases are maximal non-stopword token runs
    * (split in-row by a per-doc cumulative stopword count — doc-bounded
    * windows only); each word's corpus freq (occurrences in phrases)
    * and degree (Σ length of phrases containing it) aggregate once; a
    * phrase scores Σdeg/Σfreq over its words — the INTEGER sums keep
    * the score a single exact division (classic RAKE sums per-word
    * ratios, which would add doubles in data order). Top-k by
    * (score desc, phrase) is a TakeOrdered, not a sort.
    */
  def rakePhrases(docs: DataFrame, idCol: String, textCol: String, topK: Int): DataFrame = {
    import graft.functions.TextFunctions
    val stopArr = array(TextFunctions.allStopwords.map(lit): _*)
    val toks = docs
      .select(col(idCol).as("doc"),
        posexplode(TextFunctions.tokens(col(textCol))).as(Seq("pos", "tok")))
      .filter(col("tok") =!= "")
      .withColumn("is_stop", array_contains(stopArr, col("tok")))
    val w = Window.partitionBy("doc").orderBy("pos")
    val phrases = toks
      .withColumn("gid", sum(col("is_stop").cast("int")).over(w))
      .filter(!col("is_stop"))
      .groupBy("doc", "gid")
      .agg(sort_array(collect_list(struct(col("pos"), col("tok")))).as("pt"))
      .select(col("doc"),
        expr("transform(pt, x -> x.tok)").as("words"),
        size(col("pt")).as("plen"))
      .filter(size(col("words")) >= 2) // single words are freq noise in RAKE
      .transform(Ckpt.lazyCkpt) // word-stat side + phrase side read it
    val wordStats = phrases
      .select(explode(col("words")).as("word"), col("plen"))
      .groupBy("word")
      .agg(count(lit(1)).as("freq"), sum("plen").as("degree"))
    phrases
      .select(col("doc"), concat_ws(" ", col("words")).as("phrase"),
        explode(col("words")).as("word"))
      .join(wordStats, Seq("word"))
      .groupBy("phrase")
      .agg(countDistinct(col("doc")).as("n_docs"),
        (sum("degree").cast("double") / sum("freq").cast("double")).as("score"))
      .orderBy(col("score").desc, col("phrase"))
      .limit(topK)
  }

  /** FULL BPE tokenizer training (Sennrich et al. 2016) for `steps`
    * merges — the iterated version of [[bpePairCounts]] (which is one
    * step): each round counts tf-weighted adjacent symbol pairs over
    * the VOCAB, picks the argmax (ties → lexicographic min pair — the
    * deterministic contract), and applies the merge greedily
    * left-to-right to every word.
    *
    * Merge application is ONE literal string replace per round via a
    * double-separator encoding: symbols are joined by SEP·SEP with a
    * single SEP at each end ("abc" → ␟a␟␟b␟␟c␟), and the merge (a,b)
    * rewrites ␟a␟␟b␟ → ␟ab␟. A match consumes only the INNER separator
    * of each boundary pair, so adjacent disjoint occurrences all merge
    * in one pass while overlapping ones resolve greedily left-to-right
    * ("aaaa" + (a,a) → [aa][aa]) — exactly classic BPE, and exactly
    * what DuckDB's `replace` reproduces, making the whole training
    * loop oracle-replayable. No end-of-word marker (documented
    * simplification; add one by appending it to each word upstream).
    *
    * Scale posture: the corpus is scanned ONCE for the (word, tf)
    * vocab; every round runs over the vocab (≪ corpus — the reason BPE
    * trains on word counts), re-checkpointed per round so round k+1
    * never replays k replaces; the per-round argmax is a bounded
    * 1-row TakeOrdered collect (the centroid-training precedent).
    */
  def bpeTrain(docs: DataFrame, textCol: String, steps: Int): DataFrame =
    bpeTrainLoop(docs, textCol, steps)._1

  private val BpeSep = "\u001f"

  private def bpeTrainLoop(
      docs: DataFrame,
      textCol: String,
      steps: Int
  ): (DataFrame, DataFrame) = {
    val SEP = BpeSep
    val sp = docs.sparkSession
    var vocab = docs.select(explode(TextFunctions.tokens(col(textCol))).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy("word").agg(count(lit(1)).as("tf"))
      .select(regexp_replace(col("word"), "(.)", SEP + "$1" + SEP).as("sym"), col("tf"))
      .transform(Ckpt.lazyCkpt)
    val merges = scala.collection.mutable.ArrayBuffer[(Int, String, String, Long)]()
    var exhausted = false
    for (step <- 1 to steps if !exhausted) {
      val pairs = vocab
        .select(col("tf"), split(btrim(col("sym"), lit(SEP)), SEP + SEP).as("arr"))
        .filter(size(col("arr")) >= 2)
        .select(col("tf"), explode(expr(
          "transform(sequence(1, size(arr) - 1), i -> struct(arr[i - 1] AS a, arr[i] AS b))"))
          .as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum("tf").as("c"))
      val top = pairs.orderBy(col("c").desc, col("a").asc, col("b").asc).limit(1).collect()
      if (top.isEmpty) exhausted = true
      else {
        val (a, b, c) = (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        merges += ((step, a, b, c))
        vocab = vocab
          .withColumn("sym",
            replace(col("sym"), lit(SEP + a + SEP + SEP + b + SEP), lit(SEP + a + b + SEP)))
          .transform(Ckpt.lazyCkpt)
      }
    }
    import sp.implicits._
    (merges.toSeq.toDF("step", "l_sym", "r_sym", "pair_tf"), vocab)
  }

  /** Production-shape BPE trainer (round-9 verdict item 4): the
    * train/apply split applied to tokenizer training, exactly like
    * [[SimilarityOps.trainCentroids]] — ONE distributed job collects the
    * (word, tf) vocabulary (domain-sized by construction: word types,
    * not corpus tokens — the reason BPE trains on word counts), then the
    * N-merge loop runs DRIVER-SIDE over that in-memory vocab. A real
    * 32k-merge train is 32k in-memory rounds instead of 32k sequential
    * Spark jobs ([[bpeTrain]]'s shape — kept as the oracle-replayable
    * twin; a spec pins both trainers merge-for-merge equal). The
    * distributed [[bpeEncodeStats]] remains the apply pass.
    *
    * The collect is guarded: above `maxVocab` word types the method
    * fails loud rather than silently OOM the driver — raise the cap or
    * pre-filter the vocabulary (min-tf thresholding) for larger corpora.
    *
    * Semantics are classic Sennrich 2016, identical to [[bpeTrain]]:
    * tf-weighted adjacent-pair counts, argmax with ties to the
    * lexicographic min (a, then b), merges applied greedily
    * left-to-right in one pass per round ("aaaa" + (a,a) → [aa][aa]).
    * Returns (step, l_sym, r_sym, pair_tf) — [[bpeTrain]]'s schema.
    * (Tie-break corner: Java String order (UTF-16 units) and Spark
    * UTF8String order (code points) differ for supplementary-plane
    * symbols — irrelevant for any practical merge alphabet, noted for
    * exactness.)
    */
  def bpeTrainDriverSide(
      docs: DataFrame,
      textCol: String,
      steps: Int,
      maxVocab: Int = 2000000
  ): DataFrame = {
    val sp = docs.sparkSession
    val vocabRows = docs.select(explode(TextFunctions.tokens(col(textCol))).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy("word").agg(count(lit(1)).as("tf"))
      .limit(maxVocab + 1)
      .collect()
    require(vocabRows.length <= maxVocab,
      s"BPE vocabulary exceeds maxVocab=$maxVocab word types; " +
        "raise the cap or min-tf-filter the corpus vocabulary upstream")
    // mutable word state: each word is its current symbol sequence
    val words: Array[scala.collection.mutable.ArrayBuffer[String]] =
      vocabRows.map(r => scala.collection.mutable.ArrayBuffer.from(
        r.getString(0).map(_.toString)))
    val tfs: Array[Long] = vocabRows.map(_.getLong(1))
    val merges = scala.collection.mutable.ArrayBuffer[(Int, String, String, Long)]()
    var exhausted = false
    for (step <- 1 to steps if !exhausted) {
      val counts = scala.collection.mutable.HashMap.empty[(String, String), Long]
      var wi = 0
      while (wi < words.length) {
        val w = words(wi); val tf = tfs(wi)
        var i = 0
        while (i < w.length - 1) {
          val k = (w(i), w(i + 1))
          counts.update(k, counts.getOrElse(k, 0L) + tf)
          i += 1
        }
        wi += 1
      }
      if (counts.isEmpty) exhausted = true
      else {
        // argmax with the distributed trainer's exact tie order:
        // count DESC, a ASC, b ASC
        val ((a, b), c) = counts.minBy { case ((pa, pb), pc) => (-pc, pa, pb) }
        merges += ((step, a, b, c))
        val ab = a + b
        wi = 0
        while (wi < words.length) {
          val w = words(wi)
          var i = 0
          while (i < w.length - 1) {
            if (w(i) == a && w(i + 1) == b) { w.update(i, ab); w.remove(i + 1) }
            // greedy left-to-right: the merged symbol is NOT re-eligible
            // with its successor in the same pass, matching the
            // double-separator replace — advance either way
            i += 1
          }
          wi += 1
        }
      }
    }
    import sp.implicits._
    merges.toSeq.toDF("step", "l_sym", "r_sym", "pair_tf")
  }

  /** The APPLY side of [[bpeTrain]]: encode the corpus under the
    * learned merges and report the compression — total characters vs
    * total BPE tokens, tokens/word — the statistic that tells you what
    * a tokenizer buys on THIS corpus. Everything is an integer sum over
    * the final vocab state (chars = symbol characters, tokens = symbol
    * count, both tf-weighted); the two ratios are single double
    * divisions. Same cost shape as training: vocab-sized rounds over a
    * once-scanned corpus.
    */
  def bpeEncodeStats(docs: DataFrame, textCol: String, steps: Int): DataFrame = {
    val SEP = BpeSep
    val vocab = bpeTrainLoop(docs, textCol, steps)._2
    vocab
      .select(col("tf"),
        size(split(btrim(col("sym"), lit(SEP)), SEP + SEP)).cast("long").as("n_sym"),
        length(replace(col("sym"), lit(SEP), lit(""))).cast("long").as("n_chars"))
      .agg(
        count(lit(1)).as("n_words"),
        sum("tf").as("total_occurrences"),
        sum(col("n_chars") * col("tf")).as("total_chars"),
        sum(col("n_sym") * col("tf")).as("total_tokens"))
      .select(col("n_words"), col("total_occurrences"), col("total_chars"), col("total_tokens"),
        (col("total_tokens").cast("double") / col("total_occurrences").cast("double"))
          .as("tokens_per_word"),
        (col("total_tokens").cast("double") / col("total_chars").cast("double"))
          .as("compression"))
  }

  /** Good-Turing frequency smoothing components (Good 1953; the
    * Katz-backoff ingredient): the count-of-counts table N_r over the
    * corpus token frequencies, the adjusted count r* = (r+1)·N_{r+1}/N_r
    * and the smoothed probability p_GT = r_star / N — plus the unseen
    * mass P₀ = N₁/N every open-vocabulary LM needs. Exactness: N_r, r, N are
    * exact integers off two partial-aggregated groupBys (token → r,
    * r → N_r — the second is frequency-domain-sized, ≪ vocab); r* and
    * p_GT are fixed double combines of those integers. The report keeps
    * the `maxRows` SMALLEST frequencies present (not a literal r cutoff
    * — the low-r head is where GT smoothing matters, wherever the
    * corpus's frequency floor sits).
    */
  def goodTuringReport(docs: DataFrame, textCol: String, maxRows: Int = 20): DataFrame = {
    val tf = docs
      .select(explode(TextFunctions.tokens(col(textCol))).as("tok"))
      .filter(col("tok") =!= "")
      .groupBy("tok").agg(count(lit(1)).cast("long").as("r"))
    val cc = tf.groupBy("r").agg(count(lit(1)).cast("long").as("n_r"))
      .transform(Ckpt.lazyCkpt) // feeds rows + the r+1 join + totals
    val tot = cc.agg(
      sum((col("r").cast("decimal(19,0)") * col("n_r")).cast("decimal(38,0)"))
        .cast("decimal(38,0)").cast("double").as("n_tokens"),
      sum(when(col("r") === 1, col("n_r")).otherwise(0L)).cast("double").as("n1"))
    val next = cc.select((col("r") - 1).as("r"), col("n_r").as("n_r_next"))
    cc.orderBy("r").limit(maxRows)
      .join(next, Seq("r"), "left")
      .crossJoin(broadcast(tot)) // 1-row attach
      .select(col("r"), col("n_r"),
        ((col("r") + 1).cast("double") * col("n_r_next").cast("double")
          / col("n_r").cast("double")).as("r_star"),
        ((col("r") + 1).cast("double") * col("n_r_next").cast("double")
          / col("n_r").cast("double") / col("n_tokens")).as("p_gt"),
        (col("n1") / col("n_tokens")).as("p0_unseen"))
      .orderBy("r")
  }

  /** Corpus dispersion DP (Gries 2008): for each token,
    * DP = Σ_parts |v_i − s_i| / 2 where v_i = the token's occurrence
    * share in part i and s_i = part i's size share — 0 = perfectly
    * even, →1 = concentrated in one part ("bursty"/topical; the signal
    * separating glue words from template artifacts that raw frequency
    * cannot). Exactness: |c_i/C − t_i/T| = |c_i·T − t_i·C| / (C·T), so
    * the per-part numerators are EXACT INTEGERS summed in decimal and
    * DP is ONE double division per token. Report = top `k` most
    * dispersed tokens at a frequency floor (ties → token asc; the
    * doubles compare identically cross-engine because the inputs and
    * op order are identical). Shape: one (token, part) agg, a token
    * agg, a broadcast part-domain attach, TakeOrdered top-k.
    */
  def dispersionReport(
      docs: DataFrame,
      textCol: String,
      partCol: String,
      minCount: Long = 50,
      k: Int = 30): DataFrame = {
    val tp = docs
      .select(col(partCol).as("part"), explode(TextFunctions.tokens(col(textCol))).as("tok"))
      .filter(col("tok") =!= "")
      .groupBy("tok", "part").agg(count(lit(1)).cast("long").as("c"))
      .transform(Ckpt.lazyCkpt) // feeds part totals + token totals + the dense join
    val parts = tp.groupBy("part").agg(sum("c").cast("decimal(38,0)").as("t"))
    val total = parts.agg(sum("t").cast("decimal(38,0)").as("tt"))
    val tokens = tp.groupBy("tok").agg(sum("c").cast("decimal(38,0)").as("c_tot"))
      .filter(col("c_tot") >= minCount)
    // densify: every kept token × every part (part domain is tiny), so
    // unobserved parts contribute |0·T − t_i·C| = t_i·C exactly
    val dense = tokens
      .crossJoin(broadcast(parts))
      .join(tp, Seq("tok", "part"), "left")
      .crossJoin(broadcast(total))
    dense
      .groupBy("tok", "c_tot")
      .agg(sum(abs(
        (coalesce(col("c"), lit(0L)).cast("decimal(19,0)") * col("tt"))
          .cast("decimal(38,0)")
          - (col("t") * col("c_tot")).cast("decimal(38,0)"))
        .cast("decimal(38,0)")).cast("decimal(38,0)").as("num"))
      .crossJoin(broadcast(total))
      .select(col("tok"), col("c_tot").cast("long").as("n_occurrences"),
        (col("num").cast("double")
          / (lit(2).cast("decimal(19,0)") * col("c_tot") * col("tt"))
            .cast("decimal(38,0)").cast("double")).as("dp"))
      .orderBy(col("dp").desc, col("tok")).limit(k)
  }

  /** Code-vs-prose detection — the corpus-PARTITIONING rule battery a
    * mixed crawl needs before language-specific curation (code docs
    * must not be judged by stopword ratios, prose must not be judged
    * by indentation). Heuristic features, all integer-exact:
    *   - `sym_cnt`: count of code-punctuation chars `{}[]();=#<>*+`
    *   - `kw_hits`: \b-bounded programming-keyword matches
    *   - `indent_lines`: lines starting with a 4-space indent
    *   - `snake_ids`: snake_case identifier matches
    * `is_code` = (sym_ratio > 0.03 AND kw_hits ≥ 2) OR indent_ratio ≥
    * 0.2 — the symbol path catches dense one-liners, the indent path
    * catches block-structured sources of any length. One projection,
    * no shuffle; every feature is a codegen'd expression, so the
    * classifier runs at scan speed on 100 TB. Ratios are fixed double
    * expressions over the exact integers (oracle-replayable).
    */
  def codeProseReport(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = col(textCol)
    val nChars = length(t).cast("long")
    val symCnt = (length(t) - length(regexp_replace(t, "[{}\\[\\]();=#<>*+]", "")))
      .cast("long")
    val kwHits = size(regexp_extract_all(lower(t),
      lit("\\b(def|return|import|class|function|const|var|if|else|for|while)\\b"),
      lit(0))).cast("long")
    val lines = split(t, "\n")
    val nLines = size(lines).cast("long")
    val indentLines = size(filter(lines, l => l.startsWith("    "))).cast("long")
    val snakeIds = size(regexp_extract_all(t, lit("[a-z]+_[a-z0-9]+"), lit(0))).cast("long")
    docs
      .select(col(idCol), nChars.as("n_chars"), symCnt.as("sym_cnt"),
        kwHits.as("kw_hits"), nLines.as("n_lines"),
        indentLines.as("indent_lines"), snakeIds.as("snake_ids"))
      .withColumn("sym_ratio",
        when(col("n_chars") === 0, lit(0.0))
          .otherwise(col("sym_cnt").cast("double") / col("n_chars").cast("double")))
      .withColumn("indent_ratio",
        col("indent_lines").cast("double") / col("n_lines").cast("double"))
      .withColumn("is_code",
        (col("sym_ratio") > 0.03 && col("kw_hits") >= 2) || col("indent_ratio") >= 0.2)
  }
}
