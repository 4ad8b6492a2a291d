package graft
package queries

import graft.functions.TextFunctions
import graft.operators._
import graft.queries.Inputs._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text, corpus and multimodal queries (`text_*`, `corpus_*`, `multimodal_*`). */
object Text {

  val queries: Seq[(String, Query)] = Seq(
    // All text queries materialize (norm, tokens) ONCE as aliased columns
    // in a staged select (see Inputs.docTokens).
    "text_tokens" -> ((s, d) => {
      TP(s, d, "documents")
        .select(col("doc_id"), col("text"), TextFunctions.normText(col("text")).as("norm"))
        .select(col("doc_id"), col("text"), TextFunctions.tokensFromNorm(col("norm")).as("tk"))
        .select(
          col("doc_id"),
          size(col("tk")).cast("long").as("n_ws"),
          TextFunctions.bpeTokenCount(col("text")).cast("long").as("n_bpe"))
        .orderBy("doc_id")
    }),
    "text_quality" -> ((s, d) => {
      docNormTokens(TP(s, d, "documents"))
        .select(
          col("doc_id"),
          length(col("norm")).cast("long").as("n_chars_norm"),
          TextFunctions.punctCountFromNorm(col("norm")).cast("long").as("punct_cnt"),
          size(col("tk")).as("n_tok"),
          TextFunctions.tokenHitsFromTokens(col("tk"), TextFunctions.allStopwords).as("stop_hits"))
        .select(
          col("doc_id"), col("n_chars_norm"), col("punct_cnt"),
          TextFunctions.qualityScoreFrom(col("n_tok"), col("n_chars_norm"), col("punct_cnt"), col("stop_hits"))
            .as("quality_score"))
        .orderBy("doc_id")
    }),
    "text_langid" -> ((s, d) => {
      val langs = Seq("en", "de", "es", "fr", "zh")
      TP(s, d, "documents")
        .select(col("doc_id"), TextFunctions.normText(col("text")).as("norm"))
        .select(col("doc_id"), array_distinct(TextFunctions.tokensFromNorm(col("norm"))).as("dtk"))
        .select(
          col("doc_id") +:
            langs.map(l =>
              TextFunctions.markerOverlapFromDistinct(col("dtk"), TextFunctions.stopwords(l))
                .cast("long").as(s"s_$l")): _*)
        .withColumn("lang_guess", TextFunctions.langIdFromScores(langs.map(l => l -> col(s"s_$l"))))
        .orderBy("doc_id")
    }),
    "text_fingerprint" -> ((s, d) => {
      docNormTokens(TP(s, d, "documents"))
        .select(
          col("doc_id"),
          md5(col("norm")).as("fp"),
          array_min(transform(TextFunctions.shinglesFromTokens(col("tk"), 3), x => md5(x))).as("min_shingle_fp"))
        .orderBy("doc_id")
    }),
    "text_shingles" -> ((s, d) => {
      docTokens(TP(s, d, "documents"))
        .select(col("doc_id"), TextFunctions.shinglesFromTokens(col("tk"), 3).as("sh"))
        .select(
          col("doc_id"),
          size(col("sh")).cast("long").as("n_shingles"),
          size(array_distinct(col("sh"))).cast("long").as("n_distinct_shingles"))
        .orderBy("doc_id")
    }),

    "text_repetition" -> ((s, d) => {
      // Gopher-style repetition signal: duplicate word-2-gram fraction
      docTokens(TP(s, d, "documents"))
        .select(
          col("doc_id"),
          size(col("tk")).cast("long").as("n_tok"),
          TextFunctions.repetitionRatioFromTokens(col("tk"), 2).as("rep_ratio"))
        .orderBy("doc_id")
    }),
    "text_postings" -> ((s, d) => {
      // rare-3-gram inverted index (df ≤ 2): the blocking structure
      // containment dedup / contamination tracing query; df filtered
      // BEFORE collect_list so no boilerplate gram ever materializes a
      // giant posting buffer
      CorpusOps.rarePostings(TP(s, d, "documents"), "doc_id", "text", n = 3, maxDf = 2)
        .orderBy("gram")
    }),
    "text_topterms" -> ((s, d) => {
      // most frequent non-stopword token per doc (integer-only tf ranking
      // — no float idf, so the oracle matches bit-for-bit); the classic
      // explode → groupBy wordcount shape with map-side combine
      val toks = TP(s, d, "documents")
        .select(col("doc_id"), explode(TextFunctions.tokens(col("text"))).as("token"))
        .filter(col("token") =!= "" && !col("token").isin(TextFunctions.allStopwords: _*))
      val counts = toks.groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
      val w = Window.partitionBy("doc_id").orderBy(col("tf").desc, col("token").asc)
      counts.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("doc_id"), col("token").as("top_term"), col("tf"))
        .orderBy("doc_id")
    }),
    "text_vocab" -> ((s, d) => {
      // corpus vocabulary: top-100 tokens by total tf with document
      // frequency — two-level agg, no count-distinct Expand (distinct
      // (doc, token) IS the first grouping level)
      CorpusOps.vocabulary(TP(s, d, "documents"), "doc_id", "text", topV = 100)
        .orderBy(col("tf").desc, col("token").asc)
    }),
    "text_tfidf" -> ((s, d) => {
      // per-doc top tf-idf term: the distinct-token df table is unbounded
      // at corpus scale, so it is NOT broadcast-hinted — AQE broadcasts
      // when small, else shuffle join on token (skew-splittable); score =
      // tf·N/df as ONE IEEE division on integer-exact inputs (log-free →
      // bit-identical cross-engine, monotone in tf and 1/df)
      CorpusOps.tfidfTopTerms(TP(s, d, "documents"), "doc_id", "text")
        .orderBy("doc_id")
    }),
    "text_clean" -> ((s, d) => {
      // crawled-text cleanup: strip tags, decode entities, straighten
      // curly punctuation, collapse whitespace — md5 pins the exact
      // cleaned string against the DuckDB twin
      val cleaned = TextFunctions.cleanHtml(col("text"))
      TP(s, d, "documents")
        .select(col("doc_id"), length(cleaned).as("clean_chars"), md5(cleaned).as("clean_md5"))
        .orderBy("doc_id")
    }),
    "text_chunks" -> ((s, d) => {
      // LLM pre-training chunking: 32-token windows, 8-token overlap
      docTokens(TP(s, d, "documents"))
        .select(col("doc_id"), explode(TextFunctions.chunkTokens(col("tk"), 32, 8)).as("c"))
        .select(
          col("doc_id"),
          col("c.chunk_idx").as("chunk_idx"),
          col("c.n_tokens").as("n_tokens"),
          md5(col("c.chunk_text")).as("chunk_hash"))
        .orderBy("doc_id", "chunk_idx")
    }),
    "text_pii_report" -> ((s, d) => {
      // corpus-level PII audit: per language — docs scanned, docs with
      // any PII span, spans by type. The compliance summary a release
      // review asks for (per-doc detail is text_pii). PII is injected
      // deterministically into a doc_id-derived subset so the counts
      // vary and both engines agree.
      val aug0 = when(col("doc_id") % 3 === 0,
        concat(col("text"), lit(" contact-"), col("doc_id").cast("string"), lit("@example.com")))
        .otherwise(col("text"))
      val aug = when(col("doc_id") % 5 === 0, concat(aug0, lit(" ref 9876543210"))).otherwise(aug0)
      TP(s, d, "documents")
        .select(col("lang"), TextFunctions.piiCounts(aug).as("pc"))
        .groupBy("lang")
        .agg(
          count(lit(1)).as("n_docs"),
          sum(when(col("pc.emails") + col("pc.urls") + col("pc.long_numbers") > 0, 1L)
            .otherwise(0L)).as("docs_with_pii"),
          sum(col("pc.emails")).as("n_emails"),
          sum(col("pc.urls")).as("n_urls"),
          sum(col("pc.long_numbers")).as("n_long_nums"))
        .orderBy("lang")
    }),
    "text_pii" -> ((s, d) => {
      // the corpus has no natural PII, so augment each doc with
      // deterministic doc_id-derived spans — both engines compute the
      // same augmented text, making the scrub/count oracle substantive
      val aug = concat(
        col("text"), lit(" contact-"), col("doc_id").cast("string"),
        lit("@example.com see https://ex.org/d/"), col("doc_id").cast("string"),
        lit(" ref 9876543210"))
      TP(s, d, "documents")
        .select(col("doc_id"), aug.as("t2"))
        .select(
          col("doc_id"),
          TextFunctions.piiCounts(col("t2")).as("pc"),
          md5(TextFunctions.scrubPii(col("t2"))).as("scrub_hash"))
        .select(
          col("doc_id"),
          col("pc.emails").as("n_emails"),
          col("pc.urls").as("n_urls"),
          col("pc.long_numbers").as("n_long_nums"),
          col("scrub_hash"))
        .orderBy("doc_id")
    }),

    "text_line_dedup" -> ((s, d) => {
      // CCNet-style boilerplate removal: this corpus has no newline
      // structure, so the "line" unit is a non-overlapping 3-token
      // segment; segments occurring in >2 distinct docs (shared spans of
      // near-dup classes, frequent trigrams) are dropped corpus-wide
      // staged projections: norm → tokens → segments, so the regex
      // tokenizer runs once per row instead of once per slice reference
      // (segmentsFromTokens references its token array ~n_seg times;
      // CollapseProject keeps multiply-referenced aliases materialized)
      val segs = docTokens(TP(s, d, "documents"))
        .select(col("doc_id"), TextFunctions.segmentsFromTokens(col("tk"), 3).as("segs"))
      CorpusOps.removeBoilerplateSegments(segs, "doc_id", "segs", maxDf = 2)
        .orderBy("doc_id")
    }),
    "text_para_dedup" -> ((s, d) => {
      // within-document repeated-segment removal (keep-first) — a pure
      // projection, zero shuffles at any corpus size
      docTokens(TP(s, d, "documents"))
        .select(col("doc_id"), TextFunctions.segmentsFromTokens(col("tk"), 2).as("segs"))
        .select(col("doc_id"), col("segs"), TextFunctions.dedupSegments(col("segs")).as("kept"))
        .select(
          col("doc_id"),
          concat_ws(" ", col("kept")).as("clean_text"),
          size(col("segs")).cast("long").as("n_seg"),
          size(col("kept")).cast("long").as("n_kept"))
        .orderBy("doc_id")
    }),
    "text_bm25" -> ((s, d) => {
      // corpus search: top-20 BM25 matches for a 3-term query (log-free
      // odds-ratio idf, decimal-summed contributions — replay-stable)
      CorpusOps.bm25TopK(TP(s, d, "documents"), "doc_id", "text",
        Seq("merge", "join", "window"), k = 20)
    }),

    "text_ngram_topk" -> ((s, d) => {
      // boilerplate/watermark miner: the 25 most repeated exact 3-grams
      // across the corpus with occurrence + doc-frequency counts
      CorpusOps.ngramTopK(TP(s, d, "documents"), "doc_id", "text", n = 3, k = 25)
    }),
    "corpus_overlap_est" -> ((s, d) => {
      // corpus-overlap audit: mergeable per-slice MinHash signatures →
      // pairwise Jaccard estimates, checked inline against the exact
      // token-set Jaccard (est is md5-deterministic, so the oracle
      // replays it bit-for-bit; ok bounds the sampling error at k=200)
      DriftOps.overlapEstimates(
        TP(s, d, "documents").filter(col("lang").isin("en", "de", "fr", "es")),
        "text", "lang", k = 200, bound = 0.15)
    }),
    "text_hybrid_retrieval" -> ((s, d) => {
      // hybrid retrieval: BM25 top-20 ⊕ embedding-cosine top-20 fused
      // by reciprocal rank (c=60) — rank-based, so lexical and vector
      // scores need no cross-calibration; fusion cost is depth-bounded
      val bm25 = CorpusOps.bm25TopK(TP(s, d, "documents"), "doc_id", "text",
        Seq("merge", "join", "window"), k = 20)
      val bmRanks = CorpusOps.rankFromScore(bm25, "doc_id", "score")
      val vecs = embeddings(s, d)
      val vecRanks = SimilarityOps
        .bruteForceTopK(vecs, vecs.filter(col("vec_id") === 0), "vec_id", "vec", k = 20)
        .select(col("neighbor_id").as("doc_id"), col("rank"))
      CorpusOps.rrfFuse(Seq(bmRanks, vecRanks), "doc_id", "rank", k = 15)
    }),
    "multimodal_features" -> ((s, d) => {
      val withBin = T(s, d, "documents").select(col("doc_id"), encode(col("text"), "UTF-8").as("bin"))
      MultimodalOps
        .fakeDecodeMeta(withBin, "bin")
        .select(
          col("doc_id"),
          length(col("bin")).cast("long").as("byte_len"),
          col("media_meta.width").as("width"),
          col("media_meta.height").as("height"),
          col("media_meta.n_frames").as("n_frames"),
          md5(col("bin")).as("content_hash"))
        .orderBy("doc_id")
    }),

    "multimodal_framesample" -> ((s, d) => {
      // video-style frame sampling over opaque binary payloads: the
      // decode runs PARTITION-LOCAL via mapPartitions (the real-codec
      // shape — MultimodalOps.decodeKernel is the documented env stub),
      // every stride-th frame index expands in-row, per-frame features
      // are deterministic signatures, and the binary column is projected
      // out BEFORE the only shuffle (final ORDER BY moves ids+sigs only)
      val withBin = T(s, d, "documents")
        .select(col("doc_id"), encode(col("text"), "UTF-8").as("bin"))
      val dec = MultimodalOps.decodePartitionLocal(withBin, "bin")
      MultimodalOps.frameSamplePlan(dec, stride = 4)
        .select(col("doc_id"), length(col("bin")).cast("long").as("bl"),
          explode(col("sampled_frames")).as("frame_idx"))
        .select(col("doc_id"), col("frame_idx").cast("bigint").as("frame_idx"),
          md5(concat_ws(":", col("bl"), col("frame_idx"))).as("frame_sig"))
        .orderBy("doc_id", "frame_idx")
    }),

    "text_bpe_pairs" -> ((s, d) =>
      CorpusOps.bpePairCounts(TP(s, d, "documents"), "text", topK = 30)),
    "text_zipf" -> ((s, d) => {
      // rank-frequency (Zipf) curve with cumulative corpus share — the
      // tokenizer-planning table ("how many vocab entries cover 95% of
      // tokens"). Two aggs; rank + running sum run on the two-level
      // banding core with band (tf, 2-char token prefix) — a fixed-length
      // prefix is a monotone coarsening of the in-tie token order, so the
      // vocab (10⁸⁺ entries on a web corpus, mostly tf=1 ties) never
      // funnels through one WindowExec task; total rides back broadcast.
      val tok = CorpusOps.docTermCounts(TP(s, d, "documents"), "doc_id", "text")
        .groupBy("token").agg(sum("tf").as("tf"))
        .withColumn("pfx", substring(col("token"), 1, 2))
      val total = tok.agg(sum("tf").as("total"))
      RankOps.bandedRankCum(tok,
          bandCols = Seq("tf", "pfx"),
          bandSort = Seq(col("tf").desc, col("pfx").asc),
          rowSort = Seq(col("token").asc),
          cumCols = Seq("tf"))
        .crossJoin(broadcast(total)) // 1-row scalar attach
        .select(col("rank"), col("token"), col("tf"),
          ((col("cum_before_tf") + col("tf")).cast("double") /
            col("total").cast("double")).as("cum_share"))
        .orderBy("rank")
    }),
    "text_ngram_novelty" -> ((s, d) => {
      // per-doc novelty: fraction of its distinct 3-gram shingles whose
      // FIRST owner (min doc_id) is the doc itself — the dedup-ROI curve
      // ("how much of each new crawl is genuinely new text"). First
      // ownership is a min window on the shingle hash — one shuffle,
      // no gram×gram join.
      TP(s, d, "documents")
        .select(col("doc_id"),
          explode(array_distinct(TextFunctions.shingles(col("text"), 3))).as("g"))
        .withColumn("first_doc", min("doc_id").over(Window.partitionBy("g")))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_grams"),
          sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L)).as("n_novel"))
        .withColumn("novelty", col("n_novel").cast("double") / col("n_grams").cast("double"))
        .orderBy("doc_id")
    }),
    "text_langid_eval" -> ((s, d) => {
      // language-ID quality against the corpus's labeled lang column:
      // the (label, guess) confusion matrix — row-normalized recall per
      // label cell. Pure projection + one tiny agg.
      TP(s, d, "documents")
        .select(col("lang"), TextFunctions.langId(col("text")).as("lang_guess"))
        .groupBy("lang", "lang_guess")
        .agg(count(lit(1)).as("n"))
        .withColumn("recall",
          col("n").cast("double") /
            sum("n").over(org.apache.spark.sql.expressions.Window.partitionBy("lang")).cast("double"))
        .orderBy("lang", "lang_guess")
    }),
    "text_readability" -> ((s, d) => {
      // reading-ease proxy on deterministic features (words/sentence,
      // chars/word — no syllable dictionaries, engine-portable): the
      // quality-score sibling every curation stack carries
      val toks = TextFunctions.tokens(col("text"))
      val nS = size(filter(split(col("text"), "[.!?]"), x => length(trim(x)) > 0)).cast("long")
      val nW = size(toks).cast("long")
      val nC = aggregate(transform(toks, t => length(t)), lit(0), (a, b) => a + b).cast("long")
      TP(s, d, "documents")
        .select(col("doc_id"), nS.as("n_sentences"), nW.as("n_words"), nC.as("n_chars"))
        .withColumn("words_per_sentence",
          col("n_words").cast("double") / greatest(col("n_sentences"), lit(1L)).cast("double"))
        .withColumn("chars_per_word",
          col("n_chars").cast("double") / greatest(col("n_words"), lit(1L)).cast("double"))
        .orderBy("doc_id")
    }),
    "text_fertility" -> ((s, d) => {
      // tokenizer-fertility report by language: chars per token and tokens
      // per doc — the compression-ratio lens a tokenizer team uses to spot
      // languages the vocab underserves. Single scan, lang-sized output.
      val nToks = size(TextFunctions.tokens(col("text"))).cast("long")
      TP(s, d, "documents")
        .select(col("lang"), col("n_chars"), nToks.as("n_toks"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
             sum("n_toks").as("sum_tokens"),
             sum("n_chars").as("sum_chars"))
        .withColumn("chars_per_token",
          col("sum_chars").cast("double") / col("sum_tokens").cast("double"))
        .withColumn("tokens_per_doc",
          col("sum_tokens").cast("double") / col("n_docs").cast("double"))
        .orderBy("lang")
    }),
    "text_heavy_tokens" -> ((s, d) => {
      // frequent-token mining WITHOUT shuffling the token domain: pass 1
      // folds each partition into a Misra-Gries summary (k=256 counters,
      // native mergeable TypedImperativeAggregate) — the only shuffle is
      // the 1-row sketch merge; pass 2 exact-counts ONLY the ≤256
      // candidates (broadcast semi filter). φ=0.5% support: n·φ > n/257,
      // so the sketch provably holds every qualifying token and the exact
      // verify makes the output literally the full-groupBy answer — the
      // two-scan shape that works when the distinct-gram domain is
      // billions and a global groupBy would be the bottleneck.
      import graft.functions.SketchAggregates
      val toks = TP(s, d, "documents")
        .select(explode(TextFunctions.tokens(col("text"))).as("tok"))
      val sketch = toks
        .agg(SketchAggregates.misraGries(col("tok"), 256).as("mg"),
          count(lit(1)).as("total"))
        .transform(Ckpt.lazyCkpt) // feeds candidates + total
      val cands = sketch.select(explode(map_keys(col("mg"))).as("tok"))
      toks.join(broadcast(cands), Seq("tok"), "left_semi")
        .groupBy("tok").agg(count(lit(1)).as("n"))
        .crossJoin(broadcast(sketch.select(col("total")))) // 1-row scalar attach
        .filter(col("n") * 200 > col("total"))
        .select(col("tok"), col("n"))
        .orderBy("tok")
    }),
    "text_rake" -> ((s, d) => {
      // RAKE keyphrase extraction: stopword-delimited candidate phrases,
      // corpus word freq/degree, integer ratio-of-sums scores — see
      // CorpusOps.rakePhrases for the scale shape (doc-bounded windows,
      // vocab-sized stats, TakeOrdered top-k)
      CorpusOps.rakePhrases(TP(s, d, "documents"), "doc_id", "text", topK = 20)
    }),
    "text_vocab_coverage" -> ((s, d) => {
      // tokenizer-design curve: share of all token OCCURRENCES covered by
      // the top-k vocabulary, at k checkpoints — rank + cumulative run on
      // the two-level banding core with band (c, 2-char token prefix)
      // (the text_zipf banding precedent — no vocab-sized
      // single-partition window), integer sums until one double division
      val checkpoints = Seq(5, 10, 20, 30) // synthetic corpus vocab is ~31 tokens
      val counts = TP(s, d, "documents")
        .select(explode(TextFunctions.tokens(col("text"))).as("tok"))
        .filter(col("tok") =!= "")
        .groupBy("tok").agg(count(lit(1)).as("c"))
        .withColumn("pfx", substring(col("tok"), 1, 2))
      val tot = counts.agg(sum("c").cast("bigint").as("n_occ"),
        count(lit(1)).cast("bigint").as("n_vocab"))
      RankOps.bandedRankCum(counts,
          bandCols = Seq("c", "pfx"),
          bandSort = Seq(col("c").desc, col("pfx").asc),
          rowSort = Seq(col("tok").asc),
          cumCols = Seq("c"),
          rankName = "rk")
        .filter(col("rk").isin(checkpoints.map(c => java.lang.Long.valueOf(c.toLong)): _*))
        .crossJoin(broadcast(tot)) // 1-row scalar attach
        .select(col("rk").cast("int").as("vocab_size"), col("n_vocab"),
          ((col("cum_before_c") + col("c")).cast("double") /
            col("n_occ").cast("double")).as("coverage"))
        .orderBy("vocab_size")
    }),
    "text_span_scrub" -> ((s, d) => {
      // exact-substring dedup APPLY side (Lee et al. 2021): every 8-token
      // span also present in a lower-id doc is removed from the higher-id
      // doc (owner keeps its copy; within-doc repeats untouched — row
      // 124's job). Linear coverage expand, no suffix array, no
      // positions×starts product. Scrubbed text rides as md5 (the
      // text_clean convention) so the compare stays value-sized.
      CorpusOps.scrubDuplicatedSpans(TP(s, d, "documents"), "doc_id", "text", n = 8)
        .select(col("doc_id"), col("n_tokens"), col("n_removed"),
          md5(col("scrubbed")).as("scrub_md5"))
        .orderBy("doc_id")
    }),
    "text_span_scrub_winnow" -> ((s, d) => {
      // memory-bounded span scrub (row 307's long-n variant): only the
      // ~2n/w winnowing-SELECTED grams are positioned and owned (min
      // doc id per selected hash), each shared selection scrubs its
      // k-token extent. With w ≤ k the extents tile a shared run's
      // interior (≤ w−1 edge tokens survive per side) at 1/w of the
      // positioned-gram memory — the price of the bound. Oracle replays
      // the full winnowing selection (the dedup_winnowing fragment) +
      // ownership + coverage rebuild; scrubbed rides as md5.
      CorpusOps.scrubWinnowedSpans(TP(s, d, "documents"), "doc_id", "text",
          k = 4, w = 4)
        .select(col("doc_id"), col("n_tokens"), col("n_removed"),
          md5(col("scrubbed")).as("scrub_md5"))
        .orderBy("doc_id")
    }),
    "text_retrieval_metrics" -> ((s, d) => {
      // retrieval evaluation with NO libm on data: graded relevance = #
      // query terms present (0..3); ranking = the text_bm25 contract
      // truncated to 10; the 1/log2(i+1) rank discounts and their
      // prefix sums are SHARED LITERALS (e-notation on the oracle side);
      // DCG is a fold-exact sequential sum over the ranked gains; IDCG's
      // ideal ordering needs only the three relevance-level COUNTS
      // (closed-form prefix-sum slot fill — the corpus is never globally
      // sorted); MRR is one exact integer-ratio double. The eval harness
      // for comparing retrieval variants (BM25/hybrid/ANN) on one corpus.
      val terms = Seq("merge", "join", "window")
      val discSql = "array(1.0D, 0.6309297535714575D, 0.5D, 0.43067655807339306D, " +
        "0.38685280723454163D, 0.3562071871080222D, 0.3333333333333333D, " +
        "0.31546487678572877D, 0.3010299956639812D, 0.2890648263178879D)"
      val pdSql = "array(0.0D, 1.0D, 1.6309297535714575D, 2.1309297535714578D, " +
        "2.5616063116448506D, 2.9484591188793923D, 3.3046663059874146D, " +
        "3.637999639320748D, 3.953464516106477D, 4.254494511770458D, 4.543559338088346D)"
      val docs = TP(s, d, "documents")
      val rel = docs.select(col("doc_id"),
        size(array_intersect(
          array_distinct(TextFunctions.tokensFromNorm(TextFunctions.normText(col("text")))),
          array(terms.map(lit): _*))).cast("int").as("rel"))
        .transform(Ckpt.lazyCkpt) // level counts + ranked join read it
      val idcgRow = rel.agg(
        sum(when(col("rel") === 3, 1L).otherwise(0L)).as("n3"),
        sum(when(col("rel") === 2, 1L).otherwise(0L)).as("n2"),
        sum(when(col("rel") === 1, 1L).otherwise(0L)).as("n1"))
        .withColumn("m3", least(lit(10L), col("n3")))
        .withColumn("m32", least(lit(10L), col("n3") + col("n2")))
        .withColumn("m321", least(lit(10L), col("n3") + col("n2") + col("n1")))
        .select(col("n3"), col("n2"), col("n1"),
          expr(s"3.0D * element_at($pdSql, cast(m3 as int) + 1) + " +
            s"2.0D * (element_at($pdSql, cast(m32 as int) + 1) - element_at($pdSql, cast(m3 as int) + 1)) + " +
            s"1.0D * (element_at($pdSql, cast(m321 as int) + 1) - element_at($pdSql, cast(m32 as int) + 1))")
            .as("idcg"))
      val ranked = CorpusOps.bm25TopK(docs, "doc_id", "text", terms, k = 10)
        .withColumn("rank",
          row_number().over(Window.orderBy(col("score").desc, col("doc_id"))).cast("int"))
      val dcgRow = rel.join(broadcast(ranked), "doc_id")
        .agg(sort_array(collect_list(struct(col("rank"), col("rel")))).as("arr"),
          min(when(col("rel") > 0, col("rank"))).as("mr"))
        .select(
          expr(s"aggregate(arr, cast(0.0 as double), (a, x) -> " +
            s"a + cast(x.rel as double) * element_at($discSql, x.rank))").as("dcg"),
          coalesce(lit(1.0) / col("mr").cast("double"), lit(0.0)).as("mrr"))
      idcgRow.crossJoin(broadcast(dcgRow)) // 1-row × 1-row
        .select(col("n3"), col("n2"), col("n1"), col("mrr"), col("dcg"), col("idcg"),
          (col("dcg") / col("idcg")).as("ndcg"))
    }),
    "text_bigram_surprisal" -> ((s, d) => {
      // LM-flavored corpus-familiarity score without logs: each doc's
      // word bigrams are looked up in the corpus bigram-frequency table
      // (domain-sized aggregate; AQE broadcasts it when small, shuffle-
      // joins otherwise — the tfidf precedent). familiarity = mean
      // corpus count of the doc's bigram occurrences — integer sums, one
      // double division; LOW scores flag novel/garbled text, the cheap
      // surprisal gate a curation pipeline runs before a real LM.
      val bg = TP(s, d, "documents")
        .select(col("doc_id"), explode(TextFunctions.shingles(col("text"), 2)).as("bigram"))
        .filter(col("bigram") =!= "")
        // EAGER (r14): the corpus-frequency agg and the familiarity join
        // consume this concurrently, and their column-pruned Exchanges
        // don't canonicalize equal — unpinned, the shingle explode ran
        // twice (two full 32-task scan stages in the profile)
        .transform(Ckpt.eagerCkpt)
      val corpus = bg.groupBy("bigram").agg(count(lit(1)).as("cf"))
      bg.join(corpus, Seq("bigram"))
        .groupBy("doc_id")
        .agg(count(lit(1)).cast("bigint").as("n_bigrams"),
          sum("cf").cast("bigint").as("sum_cf"))
        .withColumn("familiarity",
          col("sum_cf").cast("double") / col("n_bigrams").cast("double"))
        .orderBy("doc_id")
    }),
    "text_ccnet_buckets" -> ((s, d) => {
      // CCNet-style head/middle/tail corpus partitioning (Wenzek et al.
      // 2020): per-LANGUAGE terciles of an LM-familiarity score (the
      // log-free bigram corpus-familiarity of row 291 stands in for the
      // wiki-LM perplexity), split at exact percent_rank thirds via the
      // banded-rank calibrate core — never a per-language raw window.
      // head = most familiar (CCNet keeps it), tail = least. Per
      // (lang, bucket): doc count, bigram mass, exact avg familiarity.
      val bg = TP(s, d, "documents")
        .select(col("doc_id"), explode(TextFunctions.shingles(col("text"), 2)).as("bigram"))
        .filter(col("bigram") =!= "")
        // EAGER (r14): the corpus-frequency agg and the familiarity join
        // consume this concurrently, and their column-pruned Exchanges
        // don't canonicalize equal — unpinned, the shingle explode ran
        // twice (two full 32-task scan stages in the profile)
        .transform(Ckpt.eagerCkpt)
      val corpus = bg.groupBy("bigram").agg(count(lit(1)).as("cf"))
      val fam = bg.join(corpus, Seq("bigram"))
        .groupBy("doc_id")
        .agg(count(lit(1)).cast("bigint").as("nb"), sum("cf").cast("bigint").as("scf"))
        .withColumn("fam", col("scf").cast("double") / col("nb").cast("double"))
      val scored = T(s, d, "documents").select(col("doc_id"), col("lang"))
        .join(fam, Seq("doc_id"))
        // EAGER (r15): the calibrate core consumes this 3× (band agg,
        // rank join, totals) — unpinned, the cf-join + per-doc fam agg
        // re-ran per consumer; the pinned frame is 5 narrow columns
        .transform(Ckpt.eagerCkpt)
      CorpusOps.calibrateByKey(scored, "lang", "fam", "doc_id", "pct")
        .withColumn("bucket",
          when(col("pct") * 3 >= 2, lit("head"))
            .when(col("pct") * 3 >= 1, lit("middle"))
            .otherwise(lit("tail")))
        .groupBy("lang", "bucket")
        .agg(count(lit(1)).as("n_docs"),
          sum("nb").cast("bigint").as("n_bigrams"),
          (sum("scf").cast("bigint").cast("double") /
            sum("nb").cast("bigint").cast("double")).as("avg_familiarity"))
        .orderBy("lang", "bucket")
    }),
    "multimodal_phash_dedup" -> ((s, d) => {
      // perceptual-hash image dedup plumbing (aHash family): 63-sample
      // grid → mean threshold → 63-bit signature → 9×7-bit banded
      // candidates (recall GUARANTEED at hamming ≤ 8) → exact
      // bit_count(xor) verify. The sampler is the documented env stub
      // (codepoint at evenly-spaced positions — a real decoder yields
      // the luma grid); near-dup structure is synthesized by an
      // in-place 1-char edit (ids +100000) of every 5th payload, which
      // moves only the samples landing on it. The oracle replays the
      // grid/threshold/signature arithmetic and the QUADRATIC hamming
      // truth — banding must find exactly that pair set.
      val base = TP(s, d, "documents").select(col("doc_id"), col("text"))
      val perturbed = base.filter(col("doc_id") % 5 === 0).select(
        (col("doc_id") + 100000L).as("doc_id"),
        concat(substring(col("text"), 1, 4), lit("z"),
          expr("substring(text, 6)")).as("text"))
      MultimodalOps.phashDupPairs(base.unionByName(perturbed), "doc_id", "text",
          maxHamming = 8)
        .orderBy("a_id", "b_id")
    }),
    "text_bpe_train" -> ((s, d) =>
      // FULL BPE tokenizer training, 8 merges (CorpusOps.bpeTrain — the
      // iterated version of row 151's single step): per-round tf-
      // weighted pair counts over the VOCAB, lexicographic-min argmax
      // tie-break, greedy left-to-right merge application as ONE literal
      // string replace under the double-separator encoding — which is
      // why DuckDB can replay the entire training loop verbatim
      // (8 unrolled count→argmax→replace stages).
      CorpusOps.bpeTrain(TP(s, d, "documents"), "text", steps = 8).orderBy("step")),
    "text_bpe_encode" -> ((s, d) =>
      // the APPLY side of BPE training: corpus compression under the 8
      // learned merges — chars vs BPE tokens, tokens/word, all integer
      // sums over the final vocab state (tf-weighted), two double
      // divisions; tells you what the tokenizer BUYS on this corpus.
      CorpusOps.bpeEncodeStats(TP(s, d, "documents"), "text", steps = 8)),
    "text_entropy" -> ((s, d) => {
      // per-document token Shannon entropy — the gibberish/diversity
      // signal (low H = repeated tokens, H ≈ ln n = all-distinct) in
      // the form H = ln(n) − (1/n)·Σ c·ln(c): ln sites are the
      // DISTINCT (doc, token) counts only, each rounded ONCE to 9 and
      // folded c-weighted in exact decimal — never a per-token-
      // occurrence rounding. Shape: one (doc, token) partial agg + one
      // doc agg; efficiency = H / ln(n) normalizes across lengths.
      val tc = TP(s, d, "documents")
        .select(col("doc_id"), explode(TextFunctions.tokens(col("text"))).as("tok"))
        .filter(col("tok") =!= "")
        .groupBy("doc_id", "tok").agg(count(lit(1)).as("c"))
      tc.groupBy("doc_id")
        .agg(sum("c").cast("bigint").as("n_tokens"),
          count(lit(1)).as("n_distinct"),
          sum((col("c").cast("decimal(19,0)") *
            round(log(col("c").cast("double")), 9).cast("decimal(18,9)")))
            .cast("decimal(38,9)").cast("double").as("clnc"))
        .filter(col("n_tokens") > 1)
        .select(col("doc_id"), col("n_tokens"), col("n_distinct"),
          // ln(n) itself carries cross-engine 1-ulp skew → round(9)
          // both outputs (one more absorption site per doc)
          round(log(col("n_tokens").cast("double")) -
            col("clnc") / col("n_tokens").cast("double"), 9).as("entropy"))
        .withColumn("efficiency",
          round(col("entropy") / round(log(col("n_tokens").cast("double")), 9), 9))
        .orderBy("doc_id")
    }),

    "text_gopher_rules" -> ((s, d) => {
      // Gopher-style quality-rule battery (Rae et al. 2021): per-RULE
      // marginal failure surface — every rule on every doc in ONE scan
      // (in-row verdict stack), integer-exact thresholds everywhere
      // (mean-word-length bounds cross-multiplied, top-token share as
      // count·5 ≤ n, ppm by integer division) — the curation run's
      // published rule report. Complements data_funnel (first-fail
      // attribution) and data_expectations (table contract).
      CorpusOps.gopherReport(TP(s, d, "documents"), "text")
    }),
    "text_c4_rules" -> ((s, d) =>
      // C4 cleanliness battery (Raffel et al. 2020 §2.2 doc-level):
      // terminal punctuation / sentence count / word count / lorem
      // ipsum / '{' / policy boilerplate, one scan, integer-exact ppm
      CorpusOps.c4Report(TP(s, d, "documents"), "text")),
    "text_fim" -> ((s, d) =>
      // fill-in-the-middle transform (Bavarian et al. 2022): PSM
      // re-serialization at md5-deterministic cut points — prefix,
      // middle, suffix all non-empty; pure map-only projection
      CorpusOps.fimTransform(TP(s, d, "documents"), "doc_id", "text")),
    "text_distinct_n" -> ((s, d) =>
      // distinct-1/distinct-2 diversity per language slice (Li et al.
      // 2016): total vs distinct n-grams, share in ppm — the cheap
      // template-collapse signal before pairwise dedup runs
      CorpusOps.distinctNReport(TP(s, d, "documents"), "text", "lang")),
    "text_kn_bigram" -> ((s, d) =>
      // interpolated Kneser-Ney bigram components (d=3/4), top-30 pairs:
      // integer count components + ONE fixed-order double probability
      // rounded 6 — the n-gram-LM-training core, LM-pipeline-shaped
      // (pair groupBy + marginals + 1-row type count)
      CorpusOps.knBigramTopK(TP(s, d, "documents"), "text", topK = 30)),
    "text_span_corrupt" -> ((s, d) =>
      // T5-style span corruption (Raffel et al. 2020): per 20-token
      // block one md5-placed 3-token span → numbered sentinel; target
      // = sentinels + masked spans. Map-only multi-span sibling of
      // text_fim; ~15% of tokens mask at the defaults.
      CorpusOps.spanCorrupt(TP(s, d, "documents"), "doc_id", "text")),
    "text_code_detect" -> ((s, d) => {
      // code-vs-prose partitioning (CorpusOps.codeProseReport): a mixed
      // crawl must route code away from stopword/langid-based curation.
      // The corpus is all prose, so the code class is SYNTHESIZED
      // in-query for doc_id % 5 = 0 (the data_entity_golden dirty-copy
      // precedent): a 3-line indented def-block prepended to the text.
      // The battery must flag exactly the synthesized docs.
      val docs = TP(s, d, "documents").select(col("doc_id"),
        when(col("doc_id") % 5 === 0,
          concat(lit("def process_"), col("doc_id"), lit("(x):\n    y = x * 2;\n    return {'k': y};\n# "),
            col("text"))).otherwise(col("text")).as("text"))
      CorpusOps.codeProseReport(docs, "doc_id", "text").orderBy("doc_id")
    }),
    "multimodal_audio_vad" -> ((s, d) => {
      // energy-based voice-activity detection over the audio payload
      // (documents.text bytes as the opaque binary, the multimodal_*
      // convention): per-frame energies → threshold → gaps-and-islands
      // segment merge → per-clip {frames, voiced, segments, longest,
      // ratio}. Frame-energy kernel is the documented env stub
      // (md5-derived); the sequence/explode/island plumbing is the
      // production shape. See MultimodalOps.vadReport.
      val withBin = T(s, d, "documents")
        .select(col("doc_id"), encode(col("text"), "UTF-8").as("bin"))
      MultimodalOps.vadReport(withBin, "doc_id", "bin").orderBy("doc_id")
    }),
    "text_mmr" -> ((s, d) => {
      // MMR diversity re-ranking (Carbonell & Goldstein SIGIR'98) over
      // the embedding corpus: queries = vec_id < 6, pool = top-16 by
      // cosine, greedy top-5 at λ=0.7 — the post-ANN re-rank step of a
      // RAG retrieval stack. Greedy runs per query group over ≤16
      // candidates (O(k²) local work, parallel across queries); the
      // DuckDB twin unrolls the 5 greedy stages over the same
      // round-6 cosines. See SimilarityOps.mmrRerank.
      val vecs = embeddings(s, d)
      SimilarityOps.mmrRerank(vecs, vecs.filter(col("vec_id") < 6), "vec_id", "vec",
          poolK = 16, selectK = 5, lambda = 0.7)
        .orderBy("query_id", "mmr_rank")
    }),
    "text_good_turing" -> ((s, d) => {
      // Good-Turing smoothing components over the corpus token
      // frequencies: count-of-counts N_r, adjusted r*, p_GT and the
      // unseen mass P0 — the Katz-backoff ingredient next to the KN
      // bigram row. See CorpusOps.goodTuringReport.
      CorpusOps.goodTuringReport(TP(s, d, "documents"), "text", maxRows = 20)
    }),
    "text_dispersion" -> ((s, d) => {
      // Gries' DP corpus dispersion: which frequent tokens are EVENLY
      // spread across sources vs concentrated ("bursty" — template
      // artifacts, topical spikes) — the signal raw frequency cannot
      // give. Exact integer numerators, one double division per token.
      // See CorpusOps.dispersionReport.
      CorpusOps.dispersionReport(TP(s, d, "documents"), "text", "source",
        minCount = 50, k = 30)
    }),
    "text_mojibake" -> ((s, d) => {
      // encoding-quality audit (the crawl-ingest gate before any text
      // op trusts the bytes): per source, docs carrying U+FFFD
      // replacement chars, C0 control chars, or the 'Ã'-prefix
      // UTF-8-read-as-Latin-1 mojibake signature — plus occurrence
      // ppm of the char mass. The corpus is clean, so corruption is
      // SYNTHESIZED deterministically (the dirty-copy precedent):
      // doc_id % 7 → mojibake 'cafÃ©' marker, % 11 → U+FFFD, % 13 →
      // a BEL control char; both engines replay the injection and the
      // scan. Counts via length-delta after char strip — one
      // projection, one (source) agg, integer everything.
      val moji = "caf\u00c3\u00a9" // 'café' mis-decoded as Latin-1
      val base = T(s, d, "documents").select(col("doc_id"), col("source"),
        concat(col("text"),
          when(col("doc_id") % 7 === 0, lit(" " + moji)).otherwise(lit("")),
          when(col("doc_id") % 11 === 0, lit("\ufffd")).otherwise(lit("")),
          when(col("doc_id") % 13 === 0, lit("\u0007")).otherwise(lit(""))).as("t"))
      def occurrences(c: String) = length(col("t")) - length(regexp_replace(col("t"), c, ""))
      val flagged = base.select(col("source"),
        occurrences("\ufffd").as("n_repl"),
        occurrences("\u0007").as("n_ctrl"),
        occurrences("\u00c3").as("n_moji"),
        length(col("t")).as("n_chars"))
      flagged.groupBy("source").agg(
          count(lit(1)).as("n_docs"),
          sum(when(col("n_repl") > 0, 1L).otherwise(0L)).as("docs_replacement"),
          sum(when(col("n_ctrl") > 0, 1L).otherwise(0L)).as("docs_control"),
          sum(when(col("n_moji") > 0, 1L).otherwise(0L)).as("docs_mojibake"),
          sum(col("n_repl") + col("n_ctrl") + col("n_moji")).cast("long").as("bad_chars"),
          sum("n_chars").cast("long").as("total_chars"))
        .withColumn("bad_char_ppm", expr("bad_chars * 1000000L div total_chars"))
        .orderBy("source")
    }),
    "text_heaps" -> ((s, d) => {
      // Heaps'-law vocabulary growth curve (V = K·nᵝ): cumulative
      // distinct vocabulary at 16 corpus prefixes in doc_id order —
      // the sub-linear growth check that flags template/boilerplate
      // corpora (vocab saturating early) before dedup runs. Relational
      // form: each token type contributes at its FIRST-seen bucket
      // (min over one token agg), cumulative sums are INTEGER window
      // folds (order-independent — exact), ratios one division each.
      val docs = T(s, d, "documents")
      val mx = docs.agg(max("doc_id").as("mx"))
      val toks = docs.crossJoin(broadcast(mx))
        .select(expr("(doc_id * 16) div (mx + 1)").as("bucket"),
          explode(TextFunctions.tokens(col("text"))).as("token"))
        .filter(col("token") =!= "")
      val occ = toks.groupBy("bucket").agg(count(lit(1)).cast("long").as("n_occ"))
      val firstSeen = toks.groupBy("token").agg(min("bucket").as("bucket"))
        .groupBy("bucket").agg(count(lit(1)).cast("long").as("n_new_types"))
      val w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
      occ.join(firstSeen, Seq("bucket"), "left")
        .withColumn("n_new_types", coalesce(col("n_new_types"), lit(0L)))
        .withColumn("tokens_cum", sum("n_occ").over(w).cast("long"))
        .withColumn("vocab_cum", sum("n_new_types").over(w).cast("long"))
        .select(col("bucket"), col("n_occ"), col("n_new_types"),
          col("tokens_cum"), col("vocab_cum"),
          (col("vocab_cum").cast("double") / col("tokens_cum").cast("double"))
            .as("type_token_ratio"))
        .orderBy("bucket")
    }),
    "text_source_overlap" -> ((s, d) => {
      // cross-source vocabulary Jaccard matrix (the redundancy signal
      // before mixing sources into a training recipe — two sources
      // sharing 90% of their vocab probably duplicate coverage):
      // per-source DISTINCT token sets as (source, token) rows, pair
      // intersections via ONE self-join on token (vocab-sized, never
      // the corpus), |A∪B| = |A|+|B|−|A∩B| — all exact integers, one
      // double division per pair.
      val vocab = T(s, d, "documents")
        .select(col("source"), explode(TextFunctions.tokens(col("text"))).as("token"))
        .filter(col("token") =!= "")
        .distinct()
        .transform(Ckpt.lazyCkpt) // feeds sizes + both join sides once
      val sizes = vocab.groupBy("source").agg(count(lit(1)).cast("long").as("v"))
      val inter = vocab.select(col("source").as("sa"), col("token"))
        .join(vocab.select(col("source").as("sb"), col("token")), Seq("token"))
        .filter(col("sa") < col("sb"))
        .groupBy("sa", "sb").agg(count(lit(1)).cast("long").as("n_inter"))
      inter
        .join(sizes.select(col("source").as("sa"), col("v").as("va")), Seq("sa"))
        .join(sizes.select(col("source").as("sb"), col("v").as("vb")), Seq("sb"))
        .select(col("sa"), col("sb"), col("va"), col("vb"), col("n_inter"),
          (col("va") + col("vb") - col("n_inter")).as("n_union"),
          (col("n_inter").cast("double")
            / (col("va") + col("vb") - col("n_inter")).cast("double")).as("jaccard"))
        .orderBy("sa", "sb")
    }),
    "text_kn_ppl" -> ((s, d) =>
      // per-doc LM cross-entropy under the corpus's own interpolated
      // KN bigram (row 360's APPLY side — the CCNet-style perplexity
      // quality gate; ppl = e^H, H emitted in nats): low H flags
      // template-like docs, high H novel/garbled — both curation
      // tails. Exact by the text_entropy ln convention: round-6 model
      // probabilities, round-9 ln sites, decimal count-weighted fold.
      CorpusOps.knBigramDocScores(TP(s, d, "documents"), "doc_id", "text")
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")),
    "multimodal_video_shots" -> ((s, d) => {
      // video shot-boundary detection (histogram-difference, Zhang et
      // al. 1993) over the opaque binary payload (documents.text bytes
      // — the multimodal_* convention): per-frame 8-bin histograms,
      // consecutive-frame L1, boundary at L1 > 256; per clip {frames,
      // shots, mean shot length, max L1}. Decode is the documented
      // scene-structured env stub; the explode/lag/threshold plumbing
      // is the production shape. See MultimodalOps.shotBoundaryReport.
      // TP: the per-frame histogram projection (16 md5 calls per frame,
      // ~50 frames/doc) runs map-side above this scan — on the 1-task
      // single-file read it was serial (3.1 s of this query's 3.8 s)
      val withBin = TP(s, d, "documents")
        .select(col("doc_id"), encode(col("text"), "UTF-8").as("bin"))
      MultimodalOps.shotBoundaryReport(withBin, "doc_id", "bin")
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    })
  )
}
