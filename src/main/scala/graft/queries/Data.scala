package graft
package queries

import graft.functions.{TextFunctions, VectorFunctions}
import graft.operators._
import graft.queries.Inputs._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Training-data curation queries (`data_*`). */
object Data {

  val queries: Seq[(String, Query)] = Seq(
    "data_weighted" -> ((s, d) => {
      // quality-weighted deterministic sampling: keep probability
      // ∝ n_chars (md5-uniform u < weight) — retry-stable, no RNG state
      val u = conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long").cast("double") / lit(4294967296.0)
      val w = least(lit(1.0), col("n_chars").cast("double") / lit(600.0))
      TP(s, d, "documents").filter(u < w)
        .select("doc_id", "n_chars")
        .orderBy("doc_id")
    }),
    "data_topk_sample" -> ((s, d) => {
      // exact-k deterministic uniform sample: global top-k by md5 order
      // (TakeOrdered — per-partition heads then one merge, no full sort)
      TP(s, d, "documents")
        .select(col("doc_id"), md5(col("doc_id").cast("string")).as("h"))
        .orderBy("h").limit(100)
        .orderBy("doc_id")
    }),
    "data_overlap_sketch" -> ((s, d) => {
      // KMV distinct-value sketches with SET ALGEBRA (Beyer et al.
      // SIGMOD'07): which parts shipped in each of two overlapping
      // one-month windows, union/overlap estimated by composing the two
      // sketches — the cross-crawl overlap question. One scan, k longs
      // per partition per side, NO co-shuffle of the key sets (the
      // exact columns exist for the oracle; the estimate booleans are
      // the driver-checked claim, q20_approx convention). At sf0.001
      // both windows are under k → the sketch is the distinct hash set
      // and the estimates are exact; at sf0.01/0.1 the estimator path
      // runs. Bounds are 3σ for k=256 (σ≈1/√(k−2)≈6.3%; intersection
      // compounds ρ and union error → 25%).
      import graft.functions.SketchAggregates._
      val k = 256
      val aWin = col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1996-02-01").cast("timestamp")
      val bWin = col("l_shipdate") >= lit("1996-01-15").cast("timestamp") &&
        col("l_shipdate") < lit("1996-02-15").cast("timestamp")
      val sk = T(s, d, "lineitem")
        .filter(aWin || bWin)
        .select(
          kmvSketch(when(aWin, col("l_partkey")), k).as("ska"),
          kmvSketch(when(bWin, col("l_partkey")), k).as("skb"),
          countDistinct(when(aWin, col("l_partkey"))).as("exact_a"),
          countDistinct(when(bWin, col("l_partkey"))).as("exact_b"),
          countDistinct(col("l_partkey")).as("exact_union"))
      def ok(est: Column, exact: Column, tol: Double): Column =
        abs(est / exact.cast("double") - 1.0) <= tol
      sk.select(
          col("exact_a"), col("exact_b"), col("exact_union"),
          (col("exact_a") + col("exact_b") - col("exact_union")).as("exact_overlap"),
          ok(kmvEstimate(col("ska"), k), col("exact_a"), 0.19).as("est_a_ok"),
          ok(kmvEstimate(col("skb"), k), col("exact_b"), 0.19).as("est_b_ok"),
          ok(kmvEstimate(kmvUnion(col("ska"), col("skb"), k), k),
            col("exact_union"), 0.19).as("est_union_ok"),
          ok(kmvIntersectEstimate(col("ska"), col("skb"), k),
            col("exact_a") + col("exact_b") - col("exact_union"), 0.25).as("est_overlap_ok"))
    }),
    "data_survivors" -> ((s, d) => {
      // the apply side of dedup: verified minhash pairs → connected
      // components → keep min-id per cluster → surviving rows. Output is
      // the kept doc_ids, which the recursive-CTE oracle recomputes from
      // the quadratic pair set.
      val docs = TP(s, d, "documents")
      val pairs = NearDup.pairs(docs)
      DedupOps.applyPairDedup(docs, "doc_id", pairs)
        .select("doc_id").orderBy("doc_id")
    }),
    "data_survivors_quality" -> ((s, d) => {
      // quality-preferred dedup apply: each cluster keeps its LONGEST
      // member (token count, ties to min id) — the canonical-page rule.
      // The oracle recomputes components and the argmax from scratch.
      val docs = TP(s, d, "documents")
      val pairs = NearDup.pairs(docs)
      DedupOps.applyPairDedupPreferring(docs, "doc_id", pairs,
          score = TextFunctions.tokenCount(col("text")))
        .select("doc_id").orderBy("doc_id")
    }),
    "data_split" -> ((s, d) => {
      // deterministic md5-bucket train/val/test split (12/2/2 of 16):
      // same doc → same split on every run and engine — the property that
      // prevents train↔test leakage across reprocessing at corpus scale
      TP(s, d, "documents")
        .select(
          col("doc_id"),
          TextFunctions.tokens(col("text")).as("tk"),
          SplitOps.assignSplit(col("doc_id")).as("split"))
        .groupBy("split")
        .agg(count(lit(1)).as("n_docs"), sum(size(col("tk")).cast("long")).as("n_tokens"))
        .orderBy("split")
    }),
    "data_packing" -> ((s, d) => {
      // sequence-packing plan: concatenate-then-chop documents into
      // 512-token context windows across 16 md5 shards — per-doc
      // placement is one running sum per shard over a portable hash, so
      // the training-batch layout reproduces in any engine; `div` (not
      // double /) keeps window ids exact past 2^53 token offsets
      val docs = TP(s, d, "documents")
      PackingOps.packSequences(docs, "doc_id",
          TextFunctions.tokenCount(col("text")), windowTokens = 512L,
          shardCol = SplitOps.bucket16(col("doc_id")))
        .orderBy("doc_id")
    }),
    "data_shuffle" -> ((s, d) => {
      // deterministic training shuffle: seeded engine-portable global
      // permutation (md5("42:"||doc_id) sort key, id tiebreak) — position
      // computed bucket-parallel (no global window), so the batch order a
      // training run sees reproduces on any engine from (seed, ids) alone
      ExportOps.permutation(TP(s, d, "documents").select("doc_id"), "doc_id", seed = "42")
        .select("doc_id", "pos")
        .orderBy("pos")
    }),
    "data_shuffle_check" -> ((s, d) => {
      // chunked-export write invariant (the write_compact_check pattern):
      // after exportShuffled at 1000 rows/file, the re-read layout must
      // show ceil(n/1000) chunks, one file per chunk, every chunk exactly
      // the contiguous position range [chunk·1000+1, chunk·1000+n_k] —
      // which pins the full permutation→file assignment, not just counts
      val dir = java.nio.file.Files.createTempDirectory("graft-shuffle").toString
      ExportOps.exportShuffled(TP(s, d, "documents").select("doc_id", "lang"),
        "doc_id", seed = "42", dir, rowsPerFile = 1000L)
      val back = s.read.parquet(dir)
        .select(col("chunk").cast("long").as("chunk"), col("pos"), input_file_name().as("f"))
      back.groupBy(col("chunk"))
        .agg(count(lit(1)).as("n"), min("pos").as("minp"), max("pos").as("maxp"),
          countDistinct(col("f")).as("nf"))
        .agg(
          count(lit(1)).as("n_files"),
          sum("n").as("n_rows"),
          bool_and(col("n") <= 1000L).as("within_cap"),
          bool_and(col("minp") === col("chunk") * 1000L + 1 &&
            col("maxp") === col("chunk") * 1000L + col("n")).as("ranges_contiguous"),
          bool_and(col("nf") === 1).as("one_file_per_chunk"))
    }),
    "data_export_manifest_check" -> ((s, d) => {
      // committed-snapshot invariant: after exportWithManifest, the
      // distributed per-chunk manifest must agree row-for-row with the
      // re-read data (count, position range, content fingerprint), the
      // _COMMIT totals must agree with both, and the marker must exist —
      // the atomic-publish contract a training reader relies on
      val dir = java.nio.file.Files.createTempDirectory("graft-export").toString
      ExportOps.exportWithManifest(TP(s, d, "documents").select("doc_id", "lang"),
        "doc_id", seed = "42", dir, rowsPerFile = 1000L)
      val markerPath = java.nio.file.Paths.get(dir, "_COMMIT")
      val committed = java.nio.file.Files.exists(markerPath)
      // the marker is one JSON line; Spark's FileIndex hides _-prefixed
      // files (that hiding is WHY the marker can't be mistaken for data),
      // so it is parsed driver-side
      val marker = java.nio.file.Files.readString(markerPath)
      def markerLong(key: String): Long =
        s""""$key":(\\d+)""".r.findFirstMatchIn(marker).map(_.group(1).toLong).getOrElse(-1L)
      val man = s.read.json(dir + "/manifest")
        .select(col("chunk"), col("n").as("man_n"), col("min_pos").as("man_min"),
          col("max_pos").as("man_max"), col("fp").as("man_fp"))
      val re = ExportOps.chunkStats(s.read.parquet(dir + "/data"), "doc_id")
      man.join(re, Seq("chunk"), "full_outer")
        .agg(bool_and(col("man_n") === col("n") && col("man_min") === col("min_pos") &&
          col("man_max") === col("max_pos") && col("man_fp") === col("fp")).as("mm"),
          count(lit(1)).as("n_files"), sum("n").as("n_rows"))
        .select(col("n_files"), col("n_rows"),
          (col("mm") && col("n_files") === lit(markerLong("n_chunks")) &&
            col("n_rows") === lit(markerLong("n_rows"))).as("manifest_matches"),
          lit(committed).as("committed"))
    }),
    "data_sample" -> ((s, d) => {
      // deterministic 2/16 sample: a pure md5-bucket filter — stable under
      // retries and reprocessing, reproducible in any engine (df.sample is
      // partitioning-dependent and would never oracle-match)
      SplitOps.deterministicSample(TP(s, d, "documents"), "doc_id", keepBuckets = 2)
        .select(col("doc_id"), TextFunctions.tokenCount(col("text")).cast("long").as("n_tok"))
        .orderBy("doc_id")
    }),
    "data_token_budget" -> ((s, d) => {
      // per-language token budget: admit docs in seeded md5 order per
      // lang until ~2000 tokens — mixture control in the unit training
      // actually consumes (tokens, not rows)
      SplitOps.tokenBudgetSample(TP(s, d, "documents"), "doc_id", "lang",
          tokens = TextFunctions.tokenCount(col("text")), budget = 2000L, seed = "7")
        .orderBy("doc_id")
    }),
    "data_contam_report" -> ((s, d) => {
      // per-eval-item contamination audit: docs 0..127 are the eval
      // set (a benchmark is FIXED-SIZE — it does not grow with the
      // corpus, so the stand-in is an id prefix, not a modulo sample,
      // keeping the broadcast input bounded by construction), the REST
      // are training docs; for each eval item, count the
      // training docs and distinct 8-grams leaking into it
      val all = TP(s, d, "documents")
      val isBench = col("doc_id") < 128
      DecontamOps.contaminationReport(all.filter(!isBench), "text", "doc_id",
          all.filter(isBench), "text", "doc_id", n = 8)
        .orderBy("bench_id")
    }),
    "data_decontam" -> ((s, d) => {
      // benchmark decontamination: docs 0..127 stand in for an eval
      // set (fixed-size id prefix — bounded broadcast by construction); docs sharing any word 8-gram with it are contaminated
      // (benchmark members trivially hit themselves — kept; the oracle
      // computes the same). Bench shingles broadcast; corpus scans once.
      val docs = TP(s, d, "documents")
      val bench = docs.filter(col("doc_id") < 128).select(col("text"))
      DecontamOps.contaminationHits(docs, "text", "doc_id", bench, "text", n = 8)
        .orderBy("doc_id")
    }),
    "data_stratified" -> ((s, d) => {
      // per-stratum deterministic downsampling (keep all purchases, 1/8
      // of clicks, 1/16 of views, 1/4 of the rest) — the curation shape
      // for rebalancing training mixtures, still a pure pushed filter
      val sampled = SplitOps.stratifiedSample(EV(s, d), "event_id", "event_type",
        Map("click" -> 2, "purchase" -> 16, "view" -> 1), defaultBuckets = 4)
      sampled.groupBy("event_type")
        .agg(count(lit(1)).as("n"), dsum(col("value"), 2).as("sum_value"))
        .orderBy("event_type")
    }),
    "data_funnel" -> ((s, d) => {
      // curation filter funnel: first-failing-rule attribution, the
      // drop-reason report every pipeline run ships with
      CorpusOps.filterFunnel(TP(s, d, "documents"), Seq(
          "too_short" -> (size(TextFunctions.tokens(col("text"))) < 20),
          "too_long" -> (col("n_chars") > 450),
          "non_english" -> (col("lang") =!= "en")))
        .orderBy("verdict")
    }),
    "data_mixture" -> ((s, d) => {
      // rebalance to a target language mixture: binding stratum caps the
      // output (fr here — its rate lands exactly 1.0, exercising the
      // thr≥65536 keep-all edge); per-lang kept counts are the output
      val kept = SplitOps.mixtureSample(TP(s, d, "documents"), "doc_id", "lang",
        Map("en" -> 0.5, "de" -> 0.2, "fr" -> 0.2, "zh" -> 0.1))
      kept.groupBy("lang").agg(count(lit(1)).as("n_kept")).orderBy("lang")
    }),
    "data_domain_cap" -> ((s, d) => {
      // per-domain document cap (web-crawl "max N docs per domain"):
      // two-phase top-k — per-(domain, salt) local cap bounds the final
      // per-domain reducer input to saltBuckets·k rows under any skew
      CorpusOps.capPerKey(
          TP(s, d, "documents").select("doc_id", "source", "n_chars"),
          "source", Seq(col("n_chars").desc, col("doc_id").asc), k = 20, rankCol = Some("rn"))
        .orderBy("source", "rn")
    }),
    "data_decontam_ngram" -> ((s, d) => {
      // fractional n-gram-overlap contamination (GPT-3/PaLM-style):
      // benchmark = docs 0..63 (fixed-size id prefix); flag corpus docs sharing ≥50% of an
      // item's distinct 5-grams (the item itself scores 1.0 — that IS
      // the verbatim-inclusion signal)
      val docs = TP(s, d, "documents")
      val bench = docs.filter(col("doc_id") < 64).select(col("doc_id").as("bid"), col("text"))
      DecontamOps.ngramContamination(docs, "text", "doc_id", bench, "text", "bid",
          n = 5, minOverlap = 0.5)
        .orderBy("doc_id", "bench_id")
    }),
    "data_quarantine" -> ((s, d) => {
      // apply side of data_funnel: every row leaves with an attributed
      // verdict (first failing rule or "kept") — the DQ-gate routing
      // column a quarantine sink filters on
      CorpusOps.quarantineTag(
          TP(s, d, "documents")
            .select(col("doc_id"), col("lang"), col("n_chars"),
              TextFunctions.tokens(col("text")).as("tk")),
          Seq(
            "too_short" -> (size(col("tk")) < 20),
            "too_long" -> (col("n_chars") > 450),
            "non_english" -> (col("lang") =!= "en")))
        .select("doc_id", "verdict")
        .orderBy("doc_id")
    }),
    "data_drift" -> ((s, d) => {
      // distribution-drift monitor: top token movers between the en and
      // de slices, ordered by integer cross-multiplied |Δfreq| (no float
      // division anywhere — bit-identical on any engine)
      // ordering happens on the exact DECIMAL inside tokenDrift; only
      // the OUTPUT column goes through the string→double idiom (the
      // q1_agg convention for decimal/engine-numeric alignment)
      DriftOps.tokenDrift(TP(s, d, "documents"), "text", "lang",
        ref = "en", cur = "de", topK = 20)
        .withColumn("delta_scaled", col("delta_scaled").cast("string").cast("double"))
    }),
    "data_winsorize" -> ((s, d) => {
      // outlier clipping: per-status [p5, p95] winsorization — rows kept,
      // leverage bounded; quantiles from one exact-percentile agg
      StatsOps.winsorizeByKey(T(s, d, "orders"), "o_orderstatus", "o_totalprice", 0.05, 0.95)
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"), col("v_w"))
        .orderBy("o_orderkey")
    }),
    "data_diversity_sample" -> ((s, d) => {
      // cluster-balanced subsample: ≤3 vectors per sign-pattern cell
      // (2^5 cells over the first 5 dims), seeded md5 order — keeps
      // regions, not density; cap rides map-side WindowGroupLimit
      SimilarityOps.diversitySample(TP(s, d, "embeddings"), "vec_id", "embedding",
          signDims = 5, perBucket = 3, seed = "42")
        .orderBy("bucket", "rank")
    }),
    "data_padding_waste" -> ((s, d) => {
      // pad-vs-pack accounting: token-length buckets (step 32, context
      // 256), per-bucket padded slots / waste / naive-padding waste
      PackingOps.paddingWaste(
        TP(s, d, "documents")
          .select(size(TextFunctions.tokens(col("text"))).as("n_tok")),
        "n_tok", contextLen = 256, step = 32)
    }),
    "data_curriculum" -> ((s, d) => {
      // curriculum staging: per-lang calibrated quality percentile →
      // 3 stages (low→high), deterministic within-stage order key —
      // the schedule a staged training run consumes
      val scored = TP(s, d, "documents")
        .select(col("doc_id"), col("lang"), TextFunctions.normText(col("text")).as("norm"))
        .select(col("doc_id"), col("lang"), col("norm"),
          TextFunctions.tokensFromNorm(col("norm")).as("tk"))
        .select(col("doc_id"), col("lang"),
          TextFunctions.qualityScoreFrom(
            size(col("tk")), length(col("norm")),
            TextFunctions.punctCountFromNorm(col("norm")),
            TextFunctions.tokenHitsFromTokens(col("tk"), TextFunctions.allStopwords))
            .as("quality_score"))
        // EAGER (r15): same rationale as quality_calibrate — 3 calibrate
        // consumers, 3 narrow columns pinned, tokenization runs once
        .transform(Ckpt.eagerCkpt)
      CorpusOps.calibrateByKey(scored, "lang", "quality_score", "doc_id")
        .withColumn("stage", least(floor(col("pct_rank") * 3), lit(2L)).cast("int"))
        .withColumn("sort_key", md5(concat_ws(":", lit("cur"), col("doc_id").cast("string"))))
        .select("doc_id", "lang", "stage", "sort_key")
        .orderBy("stage", "sort_key", "doc_id")
    }),
    "data_skew_report" -> ((s, d) => {
      // heavy-hitter report for a join key: top keys by row count with
      // exact parts-per-million share (integer div — no float drift).
      // One map-side-combined groupBy + a one-row broadcast total;
      // top-k is TakeOrderedAndProject, never a global sort.
      val counts = T(s, d, "lineitem").groupBy("l_suppkey").agg(count(lit(1)).as("cnt"))
      val total = T(s, d, "lineitem").agg(count(lit(1)).as("total"))
      counts.crossJoin(broadcast(total))
        .select(col("l_suppkey"), col("cnt"),
          expr("(cnt * 1000000L) div total").as("share_ppm"))
        .orderBy(col("cnt").desc, col("l_suppkey").asc)
        .limit(20)
    }),

    "data_grouped_split" -> ((s, d) => {
      val docs = TP(s, d, "documents")
      val pairs = NearDup.pairs(docs)
      ClusterOps.groupedSplit(docs, "doc_id", GraphOps.connectedComponents(pairs, "a_id", "b_id"))
        .orderBy("doc_id")
    }),

    "data_profile" -> ((s, d) => {
      // relational schema-profiling: null count, exact distinct count,
      // numeric min/max per column in ONE scan (a 4-way count-distinct
      // Expand — the profile op every ingestion pipeline runs first).
      // Dates profile as epoch days; strings profile nulls+distincts.
      val li = T(s, d, "lineitem")
      val cols = Seq(
        ("l_quantity", col("l_quantity").cast("double")),
        ("l_discount", col("l_discount").cast("double")),
        ("l_shipdate", datediff(col("l_shipdate"), lit("1970-01-01")).cast("double")),
        ("l_returnflag", lit(null).cast("double")))
      val agg = li.agg(
        count(lit(1)).as("n_rows"),
        cols.flatMap { case (n, c) =>
          val src = col(n)
          Seq(
            sum(when(src.isNull, 1L).otherwise(0L)).as(s"nn_$n"),
            countDistinct(src).as(s"nd_$n"),
            min(c).as(s"mn_$n"), max(c).as(s"mx_$n"))
        }: _*)
      agg.select(expr(
        "stack(" + cols.size + ", " +
          cols.map { case (n, _) => s"'$n', n_rows, nn_$n, nd_$n, mn_$n, mx_$n" }.mkString(", ") +
          ") AS (column_name, n_rows, n_nulls, n_distinct, min_d, max_d)"))
        .orderBy("column_name")
    }),
    "data_forget" -> ((s, d) => {
      // right-to-be-forgotten propagation audit: a deterministic forget
      // list (custkey/user_id % 17 == 3) anti-joined through the
      // user-keyed tables, INCLUDING the FK cascade (forgotten customers
      // take their orders with them), with one audit row per table —
      // the deletion manifest a compliance job must emit. Each table
      // pays one anti join; the forget list carries NO broadcast hint —
      // a real RTBF batch is usually small (AQE auto-broadcasts it,
      // size-guarded) but nothing bounds it by construction, and the
      // anti join stays correct at any size.
      def audit(name: String, before: DataFrame, after: DataFrame): DataFrame =
        before.agg(count(lit(1)).as("rows_before"))
          .crossJoin(after.agg(count(lit(1)).as("rows_after"))) // 1-row × 1-row
          .select(lit(name).as("table_name"), col("rows_before"), col("rows_after"),
            (col("rows_before") - col("rows_after")).as("rows_dropped"))
      val e = EV(s, d)
      val eKept = e.filter(col("user_id") % 17 =!= 3)
      val cust = T(s, d, "customer")
      val fc = cust.filter(col("c_custkey") % 17 === 3).select(col("c_custkey"))
      val cKept = cust.join(fc, Seq("c_custkey"), "left_anti")
      val ord = T(s, d, "orders")
      val oKept = ord.join(fc.select(col("c_custkey").as("o_custkey")),
        Seq("o_custkey"), "left_anti")
      audit("customer", cust, cKept)
        .unionByName(audit("events", e, eKept))
        .unionByName(audit("orders", ord, oKept))
        .orderBy("table_name")
    }),
    "data_contrastive_pairs" -> ((s, d) => {
      // contrastive training pairs: positives = verified near-dup pairs,
      // negatives = the md5-ring partner (each doc paired with its
      // neighbor in seeded-hash order WITHIN a 16-way prefix partition —
      // deterministic, uniform, and never a global sort), minus any ring
      // pair that happens to be a true near-dup
      val docs = TP(s, d, "documents")
      val pos = NearDup.pairs(docs)
        .select(col("a_id"), col("b_id"), lit(1).as("label"))
        // EAGER: consumed by the union's pos branch AND the negatives'
        // anti join, whose stages launch concurrently — unpinned, the
        // whole minhash pipeline evaluated twice (the query's main cost)
        .transform(Ckpt.eagerCkpt)
      val h = md5(concat(lit("neg:"), col("doc_id").cast("string")))
      val w = Window.partitionBy(substring(h, 1, 1)).orderBy(h, col("doc_id"))
      val neg = docs.select(col("doc_id"))
        .withColumn("nb", lead(col("doc_id"), 1).over(w))
        .filter(col("nb").isNotNull)
        .select(least(col("doc_id"), col("nb")).as("a_id"),
          greatest(col("doc_id"), col("nb")).as("b_id"))
        .join(pos.select("a_id", "b_id"), Seq("a_id", "b_id"), "left_anti")
        .select(col("a_id"), col("b_id"), lit(0).as("label"))
      pos.unionByName(neg).orderBy("label", "a_id", "b_id")
    }),
    "data_label_balance" -> ((s, d) => {
      // class balance + inverse-frequency loss weights over the labeled
      // embedding set: weight = total / (n_classes · n) — the class-
      // imbalance prep step for any classifier head; integer-exact until
      // one double division each
      val e = TP(s, d, "embeddings")
      val counts = e.groupBy("label").agg(count(lit(1)).as("n"))
      val tot = counts.agg(sum("n").as("total"), count(lit(1)).as("n_classes"))
      counts.crossJoin(broadcast(tot)) // 1-row scalar attach
        .select(col("label"), col("n"),
          (col("n").cast("double") / col("total").cast("double")).as("share"),
          (col("total").cast("double") / (col("n_classes") * col("n")).cast("double"))
            .as("class_weight"))
        .orderBy("label")
    }),
    "data_kanonymity" -> ((s, d) => {
      // k-anonymity audit over quasi-identifiers (market segment × nation
      // × account-balance band): every equivalence class with its size and
      // an at-risk flag (n < k ⇒ rows re-identifiable within the class).
      // One shuffle on the QI tuple; class count is bounded by the QI
      // domain, not the row count.
      val k = 5
      T(s, d, "customer")
        .groupBy(col("c_mktsegment").as("segment"),
                 col("c_nationkey").cast("long").as("nation"),
                 floor(col("c_acctbal") / 1000.0).cast("long").as("bal_band"))
        .agg(count(lit(1)).as("n"))
        .withColumn("at_risk", (col("n") < k).cast("boolean"))
        .orderBy("segment", "nation", "bal_band")
    }),
    "data_dense_ids" -> ((s, d) => {
      // global contiguous row numbering WITHOUT the classic scale trap (a
      // single-partition row_number over the corpus): two-level banding on
      // (n_chars, doc_id div 1024) caps every within-band window at 1024
      // rows regardless of corpus size or n_chars skew; band offsets are a
      // running sum over the band-COUNT-sized frame (1024× smaller than
      // the corpus — at exabyte scale you'd recurse the banding once
      // more) broadcast back onto the rows. Total order (n_chars, doc_id)
      // is preserved exactly: band sort + in-band rank = global rank.
      val docs = T(s, d, "documents")
        .select(col("doc_id"), col("n_chars"), expr("doc_id div 1024").as("sub"))
      val offsets = docs.groupBy("n_chars", "sub").agg(count(lit(1)).as("bn"))
        .withColumn("offset", coalesce(
          sum("bn").over(Window.orderBy("n_chars", "sub")
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      val wBand = Window.partitionBy("n_chars", "sub").orderBy("doc_id")
      docs.join(broadcast(offsets.select("n_chars", "sub", "offset")), Seq("n_chars", "sub"))
        .select(col("doc_id"), col("n_chars"),
          (col("offset") + row_number().over(wBand)).as("dense_id"))
        .orderBy("dense_id")
    }),
    "data_fk_audit" -> ((s, d) => {
      // referential-integrity audit over the full FK graph: each fact
      // side collapses to DISTINCT keys BEFORE the parent join (the
      // shuffle carries the key domain, never the fact rows), parents
      // are pk-projected and AQE-broadcast — 7 edges, 7 1-row reports
      AuditOps.fkAudit(AuditOps.tpchFkEdges(s, d))
    }),
    "data_ks_drift" -> ((s, d) => {
      // exact per-source Kolmogorov-Smirnov distance of the doc-length
      // distribution vs the whole corpus — integer CDF cross-products
      // on the (source × length-domain) grid, one row shuffle total
      DriftOps.ksDistance(
        T(s, d, "documents").select("source", "n_chars"), "source", "n_chars")
    }),
    "data_ablation" -> ((s, d) => {
      // leave-one-source-out ablation: every corpus statistic with and
      // WITHOUT each source, from one per-source aggregate + a broadcast
      // global row — no per-ablation rescan (the mixture-analysis shape:
      // which source moves the corpus mean?). Integer sums, exact ratios.
      val per = TP(s, d, "documents")
        .groupBy("source")
        .agg(count(lit(1)).as("n"),
          sum(col("n_chars")).as("chars"),
          sum(size(TextFunctions.tokens(col("text")))).as("toks"))
        .transform(Ckpt.lazyCkpt) // per-source + global sides read it
      val glob = per.agg(sum("n").as("gn"), sum("chars").as("gchars"),
        sum("toks").as("gtoks"))
      per.crossJoin(broadcast(glob)) // source-count × 1 row
        .select(col("source"), col("n"),
          (col("toks").cast("double") / col("n").cast("double")).as("mean_tokens"),
          ((col("gtoks") - col("toks")).cast("double") /
            (col("gn") - col("n")).cast("double")).as("mean_tokens_without"),
          ((col("gchars") - col("chars")).cast("double") /
            (col("gn") - col("n")).cast("double")).as("mean_chars_without"))
        .orderBy("source")
    }),
    "data_dataset_card" -> ((s, d) => {
      // dataset-card generator: the summary block a curated release
      // ships with — size, dedup rate, language mix, token mass — all
      // from ONE scan (single aggregate incl. the distinct-hash expand;
      // metric rows are an in-row stack)
      val docs = TP(s, d, "documents")
      val m = docs.agg(
        count(lit(1)).as("n"),
        sum(col("n_chars")).as("chars"),
        countDistinct(md5(TextFunctions.normText(col("text")))).as("n_uniq"),
        sum(when(col("lang") === "en", 1L).otherwise(0L)).as("n_en"),
        sum(size(TextFunctions.tokens(col("text")))).as("toks"))
      m.select(inline(array(
        struct(lit("n_docs").as("metric"), col("n").cast("double").as("value")),
        struct(lit("total_chars").as("metric"), col("chars").cast("double").as("value")),
        struct(lit("exact_dup_rate").as("metric"),
          ((col("n") - col("n_uniq")).cast("double") / col("n").cast("double")).as("value")),
        struct(lit("share_en").as("metric"),
          (col("n_en").cast("double") / col("n").cast("double")).as("value")),
        struct(lit("mean_tokens").as("metric"),
          (col("toks").cast("double") / col("n").cast("double")).as("value")))))
        .orderBy("metric")
    }),
    "data_oversample" -> ((s, d) => {
      // minority-class oversampling: integer replication factors
      // ceil(max_n/n) from the label histogram (broadcast back), rows
      // replicated by an in-row sequence explode — deterministic, no
      // sampling randomness, and the explode factor is bounded by the
      // imbalance ratio. Report: class sizes before/after.
      val labels = TP(s, d, "embeddings").select(col("vec_id"), col("label"))
      val hist = labels.groupBy("label").agg(count(lit(1)).as("n_before"))
        .transform(Ckpt.lazyCkpt) // max side + factor side both read it
      val maxN = hist.agg(max("n_before").as("max_n"))
      val factors = hist.crossJoin(broadcast(maxN)) // label-count × 1 row
        .withColumn("factor", ceil(col("max_n").cast("double") / col("n_before").cast("double")).cast("int"))
      labels.join(broadcast(factors.select("label", "n_before", "factor")), Seq("label"))
        .select(col("label"), col("n_before"), col("factor"),
          explode(sequence(lit(1), col("factor"))).as("rep"))
        .groupBy("label")
        .agg(first("n_before").as("n_before"), first("factor").as("factor"),
          count(lit(1)).as("n_after"))
        .orderBy("label")
    }),
    "data_kanon_suppress" -> ((s, d) => {
      // k-anonymity ENFORCEMENT (the audit's apply side): rows in
      // quasi-identifier classes smaller than k get their QI columns
      // suppressed — one QI-keyed aggregate joined back (AQE broadcasts
      // the class table: bounded by the QI domain, not rows)
      val k = 5
      val cust = T(s, d, "customer").select(col("c_custkey"),
        col("c_mktsegment").as("segment"),
        col("c_nationkey").cast("long").as("nation"),
        floor(col("c_acctbal") / 1000.0).cast("long").as("bal_band"))
      val classes = cust.groupBy("segment", "nation", "bal_band")
        .agg(count(lit(1)).as("n"))
      cust.join(broadcast(classes), Seq("segment", "nation", "bal_band"))
        .select(col("c_custkey"),
          when(col("n") >= k, col("segment")).otherwise(lit("*")).as("segment_out"),
          when(col("n") >= k, col("nation")).otherwise(lit(-1L)).as("nation_out"),
          when(col("n") >= k, col("bal_band")).otherwise(lit(-1L)).as("band_out"),
          (col("n") < k).as("suppressed"))
        .orderBy("c_custkey")
    }),
    "data_dp_release" -> ((s, d) => {
      // differentially-private segment aggregates: Laplace-noised count +
      // clipped-sum release with an explicit ε ledger — the publishable
      // complement of the k-anon/l-div/t-closeness audit triple. Noise is
      // a seeded md5-uniform inverse-CDF draw (retry-stable, no RNG
      // state), so the oracle replays the release bit-for-bit; only noisy
      // values leave the operator. clip=$1000 (100k cents), ε=0.5+0.5.
      val cust = T(s, d, "customer").select(col("c_mktsegment").as("segment"),
        (col("c_acctbal").cast("decimal(18,2)") * 100).cast("bigint").as("cents"))
      PrivacyOps.dpRelease(cust, Seq("segment"), "cents", clip = 100000L,
          epsCount = 0.5, epsSum = 0.5, releaseId = "rel-2026-08")
        .orderBy("segment")
    }),
    "data_linkage" -> ((s, d) => {
      // Fellegi–Sunter record linkage (LinkageOps) over a
      // deterministically dirtied copy of customer: B keeps k%3∈{0,1}
      // (k%3=0 rows get a last-char typo, ±cents jitter, and a 1-in-9
      // mangled segment; k%3=1 are clean copies; k%3=2 exist only in A).
      // Blocking: name chars 1..16 ('Customer#' + 7 digits) → ≤100-wide
      // blocks, candidates = one equi-join, never all-pairs. Comparators
      // are INTEGER predicates (levenshtein ≤ 1, equality, cents ≤ 100)
      // and weights integer log-odds basis points, so the score is an
      // exact integer sum the oracle replays. Emits match+possible bands.
      val cents = (col("c_acctbal").cast("decimal(18,2)") * 100).cast("bigint")
      // TP on the STREAM side: the one-file customer scan is a single
      // task, and all candidate-pair comparator work (5 levenshtein
      // evaluations per pair across score + flags) lands on it — spread
      // to session parallelism first (15.2 s -> ~1 s at sf0.1).
      val aB = TP(s, d, "customer").select(
        col("c_custkey").as("a_id"), col("c_name").as("a_name"),
        col("c_nationkey").cast("long").as("a_nation"), cents.as("a_cents"),
        col("c_mktsegment").as("a_seg"),
        substring(col("c_name"), 1, 16).as("blk"))
      val k = col("c_custkey")
      val bB = T(s, d, "customer").filter(k % 3 =!= 2).select(
        (k + 1000000L).as("b_id"),
        when(k % 3 === 0, concat(substring(col("c_name"), 1, 17), lit("x")))
          .otherwise(col("c_name")).as("b_name"),
        col("c_nationkey").cast("long").as("b_nation"),
        (cents + when(k % 3 === 0, (k % 7 - 3) * 37).otherwise(lit(0L))).as("b_cents"),
        when(k % 9 === 0, reverse(col("c_mktsegment")))
          .otherwise(col("c_mktsegment")).as("b_seg"),
        substring(col("c_name"), 1, 16).as("blk"))
      LinkageOps.fellegiSunter(aB, bB, "blk", _ => Seq(
          LinkageOps.FieldRule("name",
            levenshtein(col("a_name"), col("b_name")) <= 1, 994L, -564L),
          LinkageOps.FieldRule("nation", col("a_nation") === col("b_nation"), 457L, -426L),
          LinkageOps.FieldRule("segment", col("a_seg") === col("b_seg"), 217L, -300L),
          LinkageOps.FieldRule("acct",
            abs(col("a_cents") - col("b_cents")) <= 100, 649L, -330L)),
          matchBp = 800L, possibleBp = 0L)
        .filter(col("decision") =!= "nonmatch")
        .select(col("a_id"), col("b_id"), col("agree_name"), col("agree_nation"),
          col("agree_segment"), col("agree_acct"), col("score_bp").cast("bigint").as("score_bp"),
          col("decision"))
        .orderBy("a_id", "b_id")
    }),
    "data_entity_golden" -> ((s, d) => {
      // the APPLY side of record linkage (row 306 produces pairs; this
      // resolves them): two independently-dirtied copies of customer
      // (B: k%3-based edits — the data_linkage synthesis; C: k%5-based)
      // are FS-matched against A, match pairs close into entities
      // (connected components, entity_id = min member), and each
      // entity emits a GOLDEN record by majority survivorship — per
      // attribute the most frequent value, ties to the lexicographic
      // min (a 3-member entity with one dirty copy repairs by 2-1
      // vote; numeric attributes ride as digit strings, cast back).
      // All comparators/weights integer, the vote integer — exact.
      val cents = (col("c_acctbal").cast("decimal(18,2)") * 100).cast("bigint")
      val k = col("c_custkey")
      // 17-char block prefix (10-wide blocks): data_linkage's 16-char
      // convention costs 100-wide blocks, and this query pays it TWICE
      // (two dirty copies) with a levenshtein per candidate — 3M
      // comparator evaluations measured as the suite's slowest stage.
      // Recall is unaffected: both sides derive blk from the SOURCE
      // name, so narrowing the block never separates a true pair here.
      val aB = TP(s, d, "customer").select(
        col("c_custkey").as("a_id"), col("c_name").as("a_name"),
        col("c_nationkey").cast("long").as("a_nation"), cents.as("a_cents"),
        col("c_mktsegment").as("a_seg"),
        substring(col("c_name"), 1, 17).as("blk"))
      def dirty(off: Long, m1: Int, m2: Int, jmod: Int, jmul: Int) =
        T(s, d, "customer").filter(k % 3 =!= 2).select(
          (k + off).as("b_id"),
          when(k % m1 === 0, concat(substring(col("c_name"), 1, 17), lit("x")))
            .otherwise(col("c_name")).as("b_name"),
          col("c_nationkey").cast("long").as("b_nation"),
          (cents + when(k % m1 === 0, (k % jmod - jmod / 2) * jmul)
            .otherwise(lit(0L))).as("b_cents"),
          when(k % m2 === 0, reverse(col("c_mktsegment")))
            .otherwise(col("c_mktsegment")).as("b_seg"),
          substring(col("c_name"), 1, 17).as("blk"))
      def matchesTo(side: DataFrame) =
        LinkageOps.fellegiSunter(aB, side, "blk", _ => Seq(
            LinkageOps.FieldRule("name",
              levenshtein(col("a_name"), col("b_name")) <= 1, 994L, -564L),
            LinkageOps.FieldRule("nation", col("a_nation") === col("b_nation"), 457L, -426L),
            LinkageOps.FieldRule("segment", col("a_seg") === col("b_seg"), 217L, -300L),
            LinkageOps.FieldRule("acct",
              abs(col("a_cents") - col("b_cents")) <= 100, 649L, -330L)),
            matchBp = 800L, possibleBp = 0L)
          .filter(col("decision") === "match").select("a_id", "b_id")
      val bSide = dirty(1000000L, 3, 9, 7, 37)
      val cSide = dirty(2000000L, 5, 15, 11, 23)
      val edges = matchesTo(bSide).unionByName(matchesTo(cSide))
      val labels = GraphOps.connectedComponents(edges, "a_id", "b_id")
      def rec(df: DataFrame) = df.select(col("b_id").as("rec_id"),
        col("b_name").as("name"), col("b_nation").as("nation"),
        col("b_cents").as("cents"), col("b_seg").as("seg"))
      val records = rec(aB.select(col("a_id").as("b_id"), col("a_name").as("b_name"),
          col("a_nation").as("b_nation"), col("a_cents").as("b_cents"),
          col("a_seg").as("b_seg")))
        .unionByName(rec(bSide.drop("blk"))).unionByName(rec(cSide.drop("blk")))
      val tagged = records
        .join(labels.select(col("id").as("rec_id"), col("cluster_id")), Seq("rec_id"), "left")
        .withColumn("entity_id", coalesce(col("cluster_id"), col("rec_id")))
      val stacked = tagged.select(col("entity_id"), explode(array(
          struct(lit("name").as("attr"), col("name").as("v")),
          struct(lit("nation").as("attr"), col("nation").cast("string").as("v")),
          struct(lit("cents").as("attr"), col("cents").cast("string").as("v")),
          struct(lit("seg").as("attr"), col("seg").as("v")))).as("p"))
        .select(col("entity_id"), col("p.attr").as("attr"), col("p.v").as("v"))
      val w = Window.partitionBy("entity_id", "attr")
        .orderBy(col("c").desc, col("v").asc)
      // r15 (§1.2): n_records used to re-evaluate the whole records⋈labels
      // join as a second consumer of `tagged`; every record carries a
      // non-null name, so the member count is the name-attr count mass in
      // the SAME (entity, attr, v) table the vote reads — one evaluation.
      val counts = stacked.groupBy("entity_id", "attr", "v")
        .agg(count(lit(1)).as("c"))
        .transform(Ckpt.lazyCkpt) // vote pick + member count read it
      val picked = counts
        .withColumn("rk", row_number().over(w)).filter(col("rk") === 1)
      val golden = picked.groupBy("entity_id").agg(
        max(when(col("attr") === "name", col("v"))).as("name"),
        max(when(col("attr") === "nation", col("v"))).cast("long").as("nation"),
        max(when(col("attr") === "cents", col("v"))).cast("long").as("cents"),
        max(when(col("attr") === "seg", col("v"))).as("seg"))
      counts.filter(col("attr") === "name")
        .groupBy("entity_id").agg(sum("c").as("n_records"))
        .join(golden, Seq("entity_id"))
        .select("entity_id", "n_records", "name", "nation", "cents", "seg")
        .orderBy("entity_id")
    }),
    "data_local_dp" -> ((s, d) => {
      // LOCAL differential privacy by randomized response (Warner 1965;
      // the RAPPOR building block) — the collector never sees a true
      // bit, unlike row 305's central-DP release: each user's
      // "purchased?" bit flips with probability f = 1/4 (ε = ln 3 per
      // bit) via a seeded md5 coin (the dp_release seeded-noise
      // convention — deterministic, hence oracle-replayable), and the
      // debiased estimate p̂ = (rate − f)/(1 − 2f) is emitted as the
      // INTEGER numerator est_x2 = 4·reported − N (= 2·estimated
      // count; exact in both engines, no division). True count rides
      // along to show the estimator lands near it. The sensitive bit:
      // "heavy purchaser" (≥ 15 purchase events) — a genuinely split
      // population at the testdata SFs (6/15 and 50/150).
      val users = EV(s, d).groupBy("user_id")
        .agg((sum(when(col("event_type") === "purchase", 1L).otherwise(0L)) >= 15L)
          .cast("long").as("truth"))
      val coin = conv(substring(md5(concat(lit("rr:"), col("user_id"))), 1, 12), 16, 10)
        .cast("long")
      users
        .withColumn("report",
          when(coin < lit(70368744177664L), lit(1L) - col("truth")) // 2^46 = 2^48/4
            .otherwise(col("truth")))
        .agg(count(lit(1)).as("n_users"), sum("truth").as("n_true"),
          sum("report").as("n_reported"))
        .select(col("n_users"), col("n_true"), col("n_reported"),
          (lit(4L) * col("n_reported") - col("n_users")).as("est_x2"))
    }),
    "data_bootstrap_ci" -> ((s, d) => {
      // bootstrap CI for the mean WITHOUT randomness: row multiplicity in
      // resample b is Poisson(1) read off a 48-bit md5(b:key) integer
      // against PRECOMPUTED integer CDF thresholds (identical literals in
      // the oracle → bit-exact replay). One ×64 in-row expand, one
      // groupBy(b), then rank-picks on the 64-row mean frame. The
      // resampling pattern that gives error bars on any 100 TB aggregate
      // in a single pass — no per-resample scans.
      val B = 64
      val d38 = "decimal(38,0)"
      // ONE md5 per row, then 64 per-resample draws by integer mixing
      // (Knuth multiplicative + odd increment, mod 2^48) — 64 md5s/row
      // was the whole query's cost at sf0.1 (9.9s -> ~1s); the mix is
      // plain integer arithmetic the oracle replicates exactly
      // Par.spread: the md5 + ×64 expand + mix ran serial on the 1-task scan
      // (2.5 s of this query's ~2.9 s at sf0.1)
      val rows = Par.spread(T(s, d, "orders").select(col("o_orderkey"),
        (col("o_totalprice").cast("decimal(18,2)") * 100).cast("bigint").as("cents")))
        .withColumn("h0", conv(substring(
          md5(concat(lit("bs:"), col("o_orderkey"))), 1, 12), 16, 10).cast("bigint"))
        .select(col("cents"), col("h0"),
          explode(sequence(lit(1), lit(B))).as("b"))
        .withColumn("u", // split h0 so no product exceeds 2^56 (ANSI-safe)
          pmod(pmod(col("h0"), lit(16777216L)) * lit(2654435761L)
            + expr("h0 div 16777216") * lit(40503L)
            + col("b") * pmod(col("h0"), lit(1000003L)) + col("b") * lit(97L),
            lit(281474976710656L)))
      val m = when(col("u") < 103548857136060L, 0L)
        .when(col("u") < 207097714272121L, 1L)
        .when(col("u") < 258872142840152L, 2L)
        .when(col("u") < 276130285696162L, 3L)
        .otherwise(4L)
      val means = rows.withColumn("m", m)
        .groupBy("b")
        .agg((sum((col("m").cast(d38) * col("cents").cast(d38)).cast(d38)).cast(d38)
          .cast("double") / sum(col("m")).cast("double") / lit(100.0)).as("mean_b"))
      val ranked = means.withColumn("rk",
        row_number().over(Window.orderBy("mean_b"))) // 64-row frame
      ranked.agg(
        count(lit(1)).cast("bigint").as("n_resamples"),
        min(when(col("rk") === 2, col("mean_b"))).as("ci_lo"),
        min(when(col("rk") === B - 1, col("mean_b"))).as("ci_hi"))
    }),
    "data_ldiversity" -> ((s, d) => {
      // l-diversity audit (the k-anonymity complement): per
      // quasi-identifier class, the count of DISTINCT sensitive values —
      // a class can be k-anonymous yet leak everything if all its rows
      // share one sensitive value. One shuffle on the QI tuple.
      val l = 3
      T(s, d, "customer")
        .groupBy(col("c_nationkey").cast("long").as("nation"),
          floor(col("c_acctbal") / 1000.0).cast("long").as("bal_band"))
        .agg(count(lit(1)).as("n"),
          countDistinct(col("c_mktsegment")).as("l_div"))
        .withColumn("at_risk", (col("l_div") < l).cast("boolean"))
        .orderBy("nation", "bal_band")
    }),
    "data_expectations" -> ((s, d) => {
      // declarative data contract: five expectations evaluated in ONE
      // scan (a single aggregate computes every measured value; rule
      // rows are an in-row stack) — the gate a pipeline runs before
      // publishing a 100 TB batch
      import AuditOps.Expectation
      AuditOps.expectations(T(s, d, "orders"), Seq(
        Expectation("key_not_null",
          sum(when(col("o_orderkey").isNull, 1L).otherwise(0L)), _ === 0.0),
        Expectation("key_unique",
          count(lit(1)) - countDistinct(col("o_orderkey")), _ === 0.0),
        Expectation("price_in_range",
          sum(when(col("o_totalprice") < 0 || col("o_totalprice") > 1000000, 1L)
            .otherwise(0L)), _ === 0.0),
        Expectation("status_domain",
          sum(when(!col("o_orderstatus").isin("F", "O", "P"), 1L).otherwise(0L)),
          _ === 0.0),
        Expectation("row_count_min", count(lit(1)), _ >= 1000.0)))
    }),
    "data_neyman_alloc" -> ((s, d) => {
      // Neyman-optimal stratified-sampling allocation: n_h ∝ N_h·S_h
      // with EXACT largest-remainder rounding — stddev comes from the
      // decimal-exact moment sums (the q24_stats contract), the one
      // double product is floored into integer micro-weights, and every
      // remaining step (shares, floors, remainder ranks) is integer
      // arithmetic on the STRATUM-COUNT-sized frame. The sampling-design
      // op a 1000-stratum corpus needs before drawing a fixed budget.
      val budget = 1000L
      val vd = col("o_totalprice").cast("decimal(18,2)")
      val m = T(s, d, "orders")
        .groupBy(col("o_orderpriority").as("stratum"))
        .agg(count(lit(1)).as("n_rows"),
          sum(vd).cast("decimal(38,2)").cast("double").as("sx"),
          sum((vd * vd).cast("decimal(38,4)")).cast("decimal(38,4)").cast("double").as("sxx"))
        .withColumn("sd", sqrt((col("sxx") - col("sx") * col("sx") / col("n_rows").cast("double"))
          / (col("n_rows").cast("double") - lit(1d))))
        .withColumn("w_micro",
          floor(col("n_rows").cast("double") * col("sd") * lit(1e6)).cast("decimal(38,0)"))
      val tot = m.agg(sum("w_micro").cast("decimal(38,0)").as("w_tot"))
      val alloc = m.crossJoin(broadcast(tot)) // stratum-count × 1 row
        // integral division + exact remainder in DECIMAL(38,0) — a
        // decimal `/` would ROUND at its result scale and can differ
        // from the oracle's integer `//` on knife-edge quotients
        .withColumn("base", expr(s"CAST(($budget * w_micro) div w_tot AS BIGINT)"))
        .withColumn("rem", lit(budget) * col("w_micro") - col("base") * col("w_tot"))
      val w = Window.orderBy(col("rem").desc, col("stratum"))
      val wAll = Window.orderBy("stratum")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      alloc
        .withColumn("leftover", lit(budget) - sum("base").over(wAll))
        .withColumn("rk", row_number().over(w))
        .select(col("stratum"), col("n_rows"),
          (col("base") + when(col("rk") <= col("leftover"), 1L).otherwise(0L))
            .cast("bigint").as("n_alloc"))
        .orderBy("stratum")
    }),
    "data_benford" -> ((s, d) => {
      // Benford first-digit audit: the leading digit comes from the
      // INTEGER cents rendered as a string (no log10 on data — the only
      // doubles are the shared literal expectations), per-digit counts
      // in one hash agg, corpus total attached as a broadcast scalar
      val expected = array(Seq(
        0.3010299956639812, 0.17609125905568124, 0.12493873660829993,
        0.09691001300805642, 0.07918124604762482, 0.06694678963061322,
        0.05799194697768673, 0.05115252244738129, 0.04575749056067514)
        .map(lit): _*)
      val counts = T(s, d, "orders")
        .select(substring((col("o_totalprice").cast("decimal(18,2)") * 100)
          .cast("bigint").cast("string"), 1, 1).cast("int").as("digit"))
        .groupBy("digit").agg(count(lit(1)).as("n_d"))
      val tot = counts.agg(sum("n_d").cast("double").as("n"))
      counts.crossJoin(broadcast(tot)) // 1-row scalar attach
        .select(col("digit"), col("n_d"),
          (col("n_d").cast("double") / col("n")).as("share"),
          element_at(expected, col("digit")).as("expected"))
        .withColumn("abs_dev", abs(col("share") - col("expected")))
        .orderBy("digit")
    }),
    "data_quantile_norm" -> ((s, d) => {
      // cross-source quantile normalization of doc length: each source's
      // score distribution maps onto the GLOBAL distribution by integer
      // rank arithmetic on VALUE-DOMAIN frames (distinct (source,value)
      // and distinct value — never a global row sort; n_chars has a
      // bounded domain, so both frames broadcast at any corpus size).
      // Ties take the min-rank, the target index is one exact integer
      // division, the lookup is a range join between the two domain
      // frames, and docs get their normalized score back by a broadcast
      // (source,value) join. Removes per-source scoring bias before
      // cross-source quality thresholds.
      val docs = T(s, d, "documents")
        .select(col("doc_id"), col("source"), col("n_chars").as("v"))
        .transform(Ckpt.lazyCkpt) // domain frames + final join read it
      val srcDom = docs.groupBy("source", "v").agg(count(lit(1)).as("cnt"))
      val ws = Window.partitionBy("source").orderBy("v")
        .rowsBetween(Window.unboundedPreceding, -1)
      val srcRank = srcDom
        .withColumn("rank_min", coalesce(sum("cnt").over(ws), lit(0L)) + 1)
        .withColumn("n_s", sum("cnt").over(Window.partitionBy("source")))
      val globDom = docs.groupBy("v").agg(count(lit(1)).as("gcnt"))
        .transform(Ckpt.lazyCkpt) // cumulative + total read it
      val wg = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
      val glob = globDom // single-partition window on the DOMAIN frame only
        .withColumn("cum_before", coalesce(sum("gcnt").over(wg), lit(0L)))
      val nTot = globDom.agg(sum("gcnt").cast("bigint").as("n_g"))
      val mapped = srcRank.crossJoin(broadcast(nTot)) // 1-row scalar attach
        .withColumn("p", when(col("n_s") > 1,
          expr("(rank_min - 1) * (n_g - 1) div (n_s - 1) + 1")).otherwise(lit(1L)))
      val target = mapped.join(
        broadcast(glob.select(col("v").as("v_norm"), col("cum_before"), col("gcnt"))),
        col("p") > col("cum_before") && col("p") <= col("cum_before") + col("gcnt"))
        .select(col("source"), col("v"), col("v_norm"))
      docs.join(broadcast(target), Seq("source", "v"))
        .select(col("doc_id"), col("source"), col("v"), col("v_norm"))
        .orderBy("doc_id")
    }),
    "data_temperature_mix" -> ((s, d) => {
      // temperature-flattened source mixture (τ = 1/2): target share_s ∝
      // mass_s^τ — the pretraining rebalance that upweights small
      // sources. τ = 1/2 keeps it EXACT: sqrt is correctly rounded in
      // every IEEE engine (no libm pow), the one double is floored into
      // integer micro-weights, and the allocation is the Neyman
      // largest-remainder machinery (integral div + exact remainder
      // ranks) on the SOURCE-COUNT-sized frame.
      val budget = 100000L
      val m = T(s, d, "documents")
        .select(col("source"),
          size(TextFunctions.tokensFromNorm(TextFunctions.normText(col("text"))))
            .cast("bigint").as("tok"))
        .groupBy("source").agg(sum("tok").as("mass"))
        .withColumn("w_micro",
          floor(sqrt(col("mass").cast("double")) * lit(1e6)).cast("decimal(38,0)"))
      val tot = m.agg(sum("w_micro").cast("decimal(38,0)").as("w_tot"),
        sum("mass").cast("double").as("mass_tot"))
      val alloc = m.crossJoin(broadcast(tot)) // source-count × 1 row
        .withColumn("base", expr(s"CAST(($budget * w_micro) div w_tot AS BIGINT)"))
        .withColumn("rem", lit(budget) * col("w_micro") - col("base") * col("w_tot"))
      val w = Window.orderBy(col("rem").desc, col("source"))
      val wAll = Window.orderBy("source")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      alloc
        .withColumn("leftover", lit(budget) - sum("base").over(wAll))
        .withColumn("rk", row_number().over(w))
        .select(col("source"), col("mass"),
          (col("mass").cast("double") / col("mass_tot")).as("share_before"),
          (col("base") + when(col("rk") <= col("leftover"), 1L).otherwise(0L))
            .cast("bigint").as("n_alloc"))
        .withColumn("share_after", col("n_alloc").cast("double") / lit(budget.toDouble))
        .orderBy("source")
    }),
    "data_tcloseness" -> ((s, d) => {
      // t-closeness audit (completes the k-anon / l-div privacy triple):
      // per QI class, the total-variation distance between the class's
      // sensitive-value (mktsegment) distribution and the global one.
      // The numerator stays INTEGER — Σ_seg |n_cs·n_g − n_gs·n_c| — one
      // double division at the end; the class×segment grid is built from
      // two domain-sized broadcast frames so zero-count cells exist.
      val cust = T(s, d, "customer").select(
        col("c_nationkey").cast("long").as("nation"),
        floor(col("c_acctbal") / 1000.0).cast("long").as("bal_band"),
        col("c_mktsegment").as("seg"))
        .transform(Ckpt.lazyCkpt) // class, global and cell counts read it
      val cls = cust.groupBy("nation", "bal_band").agg(count(lit(1)).as("n_c"))
      val glob = cust.groupBy("seg").agg(count(lit(1)).as("n_gs"))
        .transform(Ckpt.lazyCkpt) // grid + total read it
      val ng = glob.agg(sum("n_gs").cast("bigint").as("n_g"))
      val cellCnt = cust.groupBy("nation", "bal_band", "seg").agg(count(lit(1)).as("n_cs"))
      cls.crossJoin(broadcast(glob)).crossJoin(broadcast(ng))
        .join(cellCnt, Seq("nation", "bal_band", "seg"), "left")
        .na.fill(0L, Seq("n_cs"))
        .withColumn("term", abs(col("n_cs") * col("n_g") - col("n_gs") * col("n_c")))
        .groupBy("nation", "bal_band")
        .agg(max("n_c").as("n"), sum("term").as("num"), max("n_g").as("ng"))
        .select(col("nation"), col("bal_band"), col("n"),
          (col("num").cast("double") /
            (lit(2.0) * col("n").cast("double") * col("ng").cast("double"))).as("tvd"))
        .withColumn("t_ok", col("tvd") <= 0.4)
        .orderBy("nation", "bal_band")
    }),
    "data_feature_store" -> ((s, d) => {
      // feature-store assembly: one WIDE feature row per user — per-type
      // event counts (conditional aggregation over the known type
      // domain, NOT a pivot join), decimal-exact revenue total, and
      // recency vs the corpus frontier — the export a training job joins
      // against. ONE shuffle (user agg); the frontier rides a broadcast
      // scalar.
      val ev = EV(s, d).transform(Ckpt.lazyCkpt) // agg + frontier read it
      val frontier = ev.agg(max("ts_us").as("f_us"))
      ev.groupBy("user_id")
        .agg(count(lit(1)).as("n_events"),
          sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("n_click"),
          sum(when(col("event_type") === "view", 1L).otherwise(0L)).as("n_view"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("n_purchase"),
          sum(when(col("event_type") === "error", 1L).otherwise(0L)).as("n_error"),
          dsum(col("value"), 2).as("total_value"),
          max("ts_us").as("last_us"))
        .crossJoin(broadcast(frontier)) // 1-row scalar attach
        .select(col("user_id"), col("n_events"), col("n_click"), col("n_view"),
          col("n_purchase"), col("n_error"), col("total_value"),
          expr("(f_us - last_us) div 86400000000").as("recency_days"))
        .orderBy("user_id")
    }),
    "data_fd_check" -> ((s, d) => {
      // functional-dependency audit over a denormalized export: for each
      // candidate FD (A → B), the count of A-values carrying more than
      // one distinct B — the candidate pairs are STACKED IN-ROW (the
      // data_expectations / fk-audit idiom) so the denormalized frame is
      // scanned ONCE, then one (fd, key) agg + one fd agg. The
      // key-inference gate before declaring uniqueness on a 100 TB
      // extract. Expected: the three real FDs hold, the segment→nation
      // candidate fails.
      val den = T(s, d, "customer")
        .join(T(s, d, "nation"), col("c_nationkey") === col("n_nationkey"))
        .join(T(s, d, "region"), col("n_regionkey") === col("r_regionkey"))
      val stacked = den.select(explode(array(
        struct(lit("custkey->name").as("fd"),
          col("c_custkey").cast("string").as("k"), col("c_name").as("v")),
        struct(lit("nationkey->nname").as("fd"),
          col("c_nationkey").cast("string").as("k"), col("n_name").as("v")),
        struct(lit("nationkey->rname").as("fd"),
          col("c_nationkey").cast("string").as("k"), col("r_name").as("v")),
        struct(lit("segment->nname").as("fd"),
          col("c_mktsegment").as("k"), col("n_name").as("v")))).as("p"))
        .select(col("p.fd").as("fd"), col("p.k").as("k"), col("p.v").as("v"))
      stacked.groupBy("fd", "k").agg(countDistinct("v").as("nd"))
        .groupBy("fd")
        .agg(count(lit(1)).as("n_keys"),
          sum(when(col("nd") > 1, 1L).otherwise(0L)).as("n_violating"))
        .withColumn("holds", col("n_violating") === 0)
        .orderBy("fd")
    }),
    "data_cast_audit" -> ((s, d) => {
      // cast-safety audit before a schema migration: for each proposed
      // column conversion, the rows that would NULL OUT (try_cast
      // failure) and the rows that would silently LOSE PRECISION —
      // candidates stacked IN-ROW (the expectations idiom), ONE scan,
      // one tiny agg. The contract gate before rewriting a 100 TB
      // extract under a tightened schema.
      // Par.spread: the 3-cast try_cast battery ran serial on the 1-task scan
      // (3.0 s of this query's ~3.4 s at sf0.1)
      Par.spread(T(s, d, "orders").select("o_totalprice", "o_orderkey", "o_orderstatus"))
        .select(explode(array(
          struct(lit("totalprice->decimal(7,2)").as("cast_to"),
            col("o_totalprice").isNotNull.as("nonnull"),
            expr("try_cast(o_totalprice as decimal(7,2))").isNull.as("fails"),
            expr("try_cast(o_totalprice as decimal(7,2)) is not null and " +
              "cast(try_cast(o_totalprice as decimal(7,2)) as double) <> o_totalprice")
              .as("lossy")),
          struct(lit("orderkey->int").as("cast_to"),
            col("o_orderkey").isNotNull.as("nonnull"),
            expr("try_cast(o_orderkey as int)").isNull.as("fails"),
            lit(false).as("lossy")),
          struct(lit("status->int").as("cast_to"),
            col("o_orderstatus").isNotNull.as("nonnull"),
            expr("try_cast(o_orderstatus as int)").isNull.as("fails"),
            lit(false).as("lossy")))).as("p"))
        .select(col("p.cast_to").as("cast_to"), col("p.fails").as("fails"),
          col("p.lossy").as("lossy"))
        .groupBy("cast_to")
        .agg(count(lit(1)).as("n"),
          sum(when(col("fails"), 1L).otherwise(0L)).as("n_fail"),
          sum(when(col("lossy"), 1L).otherwise(0L)).as("n_lossy"))
        .withColumn("safe", col("n_fail") === 0 && col("n_lossy") === 0)
        .orderBy("cast_to")
    }),
    "data_dedup_idempotence" -> ((s, d) => {
      // dedup idempotence proof AS DATA: applying the survivors pass to
      // its own output must change nothing (pass 2 finds zero pairs) —
      // the property that makes a nightly dedup safe to re-run on
      // already-cleaned data. Emits pass-1/pass-2 counts and the
      // equality verdict; the oracle recomputes pass 1 and states the
      // invariant.
      // r15 (guide §1.2): the two passes shingled the corpus FOUR times
      // (signature + verify per pass) and eagerly checkpointed the full
      // pass-1 text. The shingle set is a pure per-document function of
      // unchanged text, so pass 2's "re-shingling of its own output" is
      // byte-identical to the pass-1 signatures filtered to the
      // survivors — one eager (id, sh) pin feeds both passes, and only
      // id sets flow between them. Same counts, same verdict.
      val docs = TP(s, d, "documents")
      val docsSh = docs
        .transform(NearDup.shingles)
        .transform(Ckpt.eagerCkpt)
      def dropsOf(sh: DataFrame) = GraphOps.connectedComponents(
          NearDup.pairsOf(sh),
          "a_id", "b_id")
        .filter(col("id") =!= col("cluster_id"))
        .select(col("id").as("__drop_id"))
      val sh1 = docsSh.join(dropsOf(docsSh), col("id") === col("__drop_id"), "left_anti")
        .transform(Ckpt.eagerCkpt) // pass-2 input: the survivors' signatures
      val p2 = sh1.join(dropsOf(sh1), col("id") === col("__drop_id"), "left_anti")
      sh1.agg(count(lit(1)).as("n_pass1"))
        .crossJoin(broadcast(p2.agg(count(lit(1)).as("n_pass2")))) // 1×1
        .withColumn("idempotent", col("n_pass1") === col("n_pass2"))
    }),
    "data_stratified_exact_k" -> ((s, d) => {
      // EXACT-k deterministic sample per stratum (the rate-based
      // data_stratified can't hit a headcount): within each lang, the k
      // smallest md5(seed:doc_id) — per-key top-k rides
      // InferWindowGroupLimit's map-side partial heap, so each task
      // forwards ≤k rows per stratum and the low-cardinality stratum key
      // never funnels raw rows (the data_domain_cap precedent);
      // retry-stable, joins-free, exactly min(k, n_stratum) rows out.
      val k = 40
      val docs = TP(s, d, "documents").select(col("doc_id"), col("lang"),
        md5(concat_ws(":", lit("sek"), col("doc_id").cast("string"))).as("pick"))
      CorpusOps.capPerKey(docs, "lang", Seq(col("pick").asc, col("doc_id").asc), k)
        .select("doc_id", "lang")
        .orderBy("doc_id")
    }),
    "data_dsir" -> ((s, d) => {
      // DSIR importance resampling (Xie et al. 2023): select the 50
      // raw-corpus docs that look most like the ENGLISH slice under
      // hashed-bigram models — logw = Σ c_f·(ln θ_en − ln θ_raw)
      // (per-bucket log-ratio rounded ONCE at the 1024-row bucket
      // table then decimal-exact per-doc fold) + seeded md5-Gumbel
      // top-k (≡ sampling without replacement ∝ w, retry-stable).
      // Fit = one conditional-sum bucket agg; score = broadcast lr
      // join + one doc agg; selection = TakeOrdered, no global sort.
      val docs = TP(s, d, "documents")
      val top = SelectionOps.dsirScores(docs, "doc_id", "text",
          isTarget = col("lang") === "en", buckets = 1024, seed = "dsir")
        .orderBy(col("score").desc, col("id"))
        .limit(50)
      top.join(docs.select(col("doc_id"), col("lang")), top("id") === col("doc_id"))
        .select(col("doc_id"), col("lang"),
          col("logw").cast("double").as("logw"),
          col("score").cast("double").as("score"))
        .orderBy(col("score").desc, col("doc_id"))
    }),
    "data_url_canon" -> ((s, d) => {
      // URL canonicalization + canonical-key dedup (the crawl-curation
      // stage before any content dedup): scheme/host case, default
      // ports, leading www., utm_* params, param order, fragments and
      // trailing slashes all normalize away; docs sharing the canonical
      // key collapse keep-min. URLs are SYNTHESIZED deterministically
      // from doc_id/source (the linkage dirty-copy precedent) with all
      // seven mess dimensions exercised, so the oracle replays the
      // synthesis + canonicalization byte-for-byte. Shape: pure
      // projection + one partial-agg groupBy on the canonical key.
      val u = concat(
        when(col("doc_id") % 2 === 0, lit("HTTPS://WWW.")).otherwise(lit("https://")),
        col("source"), lit(".Example.COM"),
        when(col("doc_id") % 3 === 0, lit(":443")).otherwise(lit("")),
        lit("/docs/"), (col("doc_id") % 40).cast("string"),
        when(col("doc_id") % 4 === 0, lit("/")).otherwise(lit("")),
        when(col("doc_id") % 2 === 0,
          concat(lit("?utm_source=feed&id="), (col("doc_id") % 5).cast("string"),
            lit("&utm_campaign=x")))
          .otherwise(concat(lit("?id="), (col("doc_id") % 5).cast("string"))),
        when(col("doc_id") % 5 === 0, lit("#sec2")).otherwise(lit("")))
      T(s, d, "documents")
        .select(col("doc_id"), TextFunctions.canonicalizeUrl(u).as("canonical_url"))
        .groupBy("canonical_url")
        .agg(min("doc_id").as("keep_id"), count(lit(1)).as("dup_count"))
        .orderBy("canonical_url")
    }),
    "data_active_learning" -> ((s, d) => {
      // active-learning annotation selection (uncertainty sampling):
      // refit the row-311 probe, broadcast the 1-row model, pick the 40
      // docs closest to the ½ decision boundary — where the next
      // labeling dollar goes. Selection is TakeOrdered on |pred − ½|
      // with id tie-break; the model solve and the prediction are the
      // same fixed double expressions the fit oracle replays.
      val docs = TP(s, d, "documents")
      val x1 = size(TextFunctions.tokens(col("text")))
      val x2 = TextFunctions.tokenHits(col("text"), TextFunctions.stopwords("en"))
      val label = when(col("lang") === "en", 1L).otherwise(0L)
      val sel = SelectionOps.uncertaintySample(docs, "doc_id", x1, x2, label, k = 40)
      sel.join(T(s, d, "documents").select(col("doc_id"), col("lang")),
          sel("id") === col("doc_id"))
        .select(col("doc_id"), col("lang"), col("pred"), col("uncertainty"))
        .orderBy(col("uncertainty").asc, col("doc_id").asc)
    }),
    "data_kfold" -> ((s, d) => {
      // stratified k-fold cross-validation assignment (k=5):
      // within-stratum md5 rank (seeded, retry-stable) → fold = rank%k,
      // so per-stratum fold sizes differ by ≤1 — EXACT balance, not
      // md5-mod-k approximate. The per-lang rank rides the
      // groupedBandedRank core (lang is 5 values — a raw per-lang
      // window is the §5.1 anti-pattern). Emits per (lang, fold)
      // counts + the per-lang balance invariant.
      val docs = T(s, d, "documents").select(col("doc_id"), col("lang"),
        md5(concat(lit("kf:"), col("doc_id").cast("string"))).as("h"))
      val banded = docs.withColumn("hb",
        conv(substring(col("h"), 1, 2), 16, 10).cast("long"))
      val ranked = RankOps.groupedBandedRank(banded, Seq("lang"), Seq("hb"),
        Seq(col("hb").asc), Seq(col("h").asc, col("doc_id").asc), "rk")
      val folds = ranked
        .withColumn("fold", pmod(col("rk") - 1, lit(5L)))
        .groupBy("lang", "fold").agg(count(lit(1)).as("n_docs"))
      val bal = folds.groupBy("lang")
        .agg((max("n_docs") - min("n_docs") <= 1).as("balanced"))
      folds.join(broadcast(bal), Seq("lang"))
        .select(col("lang"), col("fold"), col("n_docs"), col("balanced"))
        .orderBy("lang", "fold")
    }),
    "data_psi" -> ((s, d) => {
      // Population Stability Index (the scorecard-monitoring standard,
      // completing the drift family: token drift row 134, KS row 201,
      // chi² row 242): binned (p−q)·ln(p/q) between two deterministic
      // event slices over the value domain in cents, Laplace-smoothed,
      // per-bin term rounded ONCE and folded in bin order.
      DriftOps.psi(
        EV(s, d).select((col("event_id") % 2 === 0).as("is_base"),
          (col("value").cast("decimal(18,2)") * 100).cast("long").as("cents")),
        isBaseline = col("is_base"), measure = col("cents"),
        bins = 10, lo = 0L, hi = 100000L)
        .orderBy("bin")
    }),
    "data_semantic_decontam" -> ((s, d) => {
      // EMBEDDING-space benchmark decontamination (the semantic twin of
      // data_decontam's n-gram overlap — catches paraphrased eval items
      // n-grams miss): train docs with cosine ≥ τ to ANY eval vector
      // are reported with their best-matching eval item. Eval side =
      // vec_id < 8 (ann convention) + synthesized contamination (a
      // shift-perturbed copy of each eval vector at cos ≈ 0.9987,
      // ids +100000, planted in the train side); natural max cosine in
      // the noise embeddings is ≈ 0.51, so τ = 0.9 isolates the
      // plants. Eval broadcast, corpus scan map-side, one train-id agg.
      val vecs = embeddings(s, d)
      val eval_ = vecs.filter(col("vec_id") < 8)
      val planted = shiftPerturb(eval_, 1, 100000L)
      val train = vecs.filter(col("vec_id") >= 8).unionByName(planted)
      train
        .join(broadcast(eval_.select(col("vec_id").as("eval_id"), col("vec").as("ev"))))
        .withColumn("cosine", round(VectorFunctions.cosine(col("vec"), col("ev")), 6))
        .filter(col("cosine") >= 0.9)
        .groupBy(col("vec_id").as("train_id"))
        .agg(max(struct(col("cosine"), (-col("eval_id")).as("neg_eval")))
          .as("best"))
        .select(col("train_id"),
          (-col("best.neg_eval")).cast("long").as("eval_id"),
          col("best.cosine").as("cosine"))
        .orderBy("train_id")
    }),
    "data_kcenter" -> ((s, d) => {
      // greedy k-center coreset selection (Gonzalez; the Sener &
      // Savarese active-learning rule): the 8 most mutually-spread
      // exemplars of the embedding table, each round one map-side
      // min-distance pass + a 1-row TakeOrdered (centers are driver
      // literals — the trainCentroids shape). radius is nonincreasing;
      // its tail bounds the corpus covering radius. Oracle: 8 unrolled
      // argmax-min-distance CTE stages over the same round-6 cosine.
      val vecs = embeddings(s, d)
      SimilarityOps.kCenterGreedy(vecs, "vec_id", "vec", k = 8)
        .withColumn("radius", round(col("radius"), 6))
        .orderBy("step")
    }),
    "data_dup_weights" -> ((s, d) => {
      // SOFT dedup — near-dup-aware loss weights instead of dropping:
      // every doc keeps its row but its training weight is divided by
      // its near-dup cluster size (weight_ppm = 10⁶ div n_members;
      // singletons keep 10⁶), so a 5-way duplicated passage
      // contributes one document's worth of gradient in aggregate.
      // Same pair parameters as dedup_clusters; integer-exact.
      val docs = TP(s, d, "documents")
      val pairs = NearDup.pairs(docs)
      val labels = GraphOps.connectedComponents(pairs, "a_id", "b_id")
      val sizes = labels.groupBy("cluster_id").agg(count(lit(1)).as("n_members"))
      docs.select(col("doc_id"))
        .join(labels.select(col("id").as("doc_id"), col("cluster_id")), Seq("doc_id"), "left")
        .withColumn("cluster_id", coalesce(col("cluster_id"), col("doc_id")))
        .join(sizes, Seq("cluster_id"), "left")
        .withColumn("n_members", coalesce(col("n_members"), lit(1L)))
        .select(col("doc_id"), col("cluster_id"), col("n_members"),
          expr("1000000L div n_members").as("weight_ppm"))
        .orderBy("doc_id")
    }),
    "data_profile_drift" -> ((s, d) => {
      // generation-over-generation profile drift — the ingestion canary
      // that pairs with row 172's single-table profile: per column,
      // yesterday-vs-today row counts, exact distincts, and
      // decimal-exact means, with integer/rounded drift verdicts
      // (distinct shift > 10% cross-multiplied; mean shift > $1 on
      // round-6 exact means). Generations stand in as the two
      // o_orderkey parities; ONE scan, conditional aggregates, in-row
      // stack.
      val g = pmod(col("o_orderkey"), lit(2))
      val cents = (col("o_totalprice").cast("decimal(18,2)") * 100).cast("bigint")
      def dmean(side: Int, num: Column, n: Column) = round(
        dsum(when(g === side, num), 0) / n / 100.0, 6)
      val cols = Seq(
        ("o_totalprice", Some(cents)),
        ("o_custkey", Some(col("o_custkey").cast("bigint") * 100)),
        ("o_orderstatus", None),
        ("o_orderpriority", None))
      val aggCols: Seq[Column] =
        Seq(sum(when(g === 0, 1L).otherwise(0L)).as("n_a"),
          sum(when(g === 1, 1L).otherwise(0L)).as("n_b")) ++
          cols.flatMap { case (n, num) =>
            val src = col(n)
            Seq(
              countDistinct(when(g === 0, src)).as(s"nda_$n"),
              countDistinct(when(g === 1, src)).as(s"ndb_$n")) ++
              num.toSeq.flatMap(c => Seq(
                dmean(0, c, sum(when(g === 0, 1L).otherwise(0L))).as(s"ma_$n"),
                dmean(1, c, sum(when(g === 1, 1L).otherwise(0L))).as(s"mb_$n")))
          }
      // Par.spread: 8 conditional countDistincts expand every row 8× before the
      // partial agg — serial on the 1-task scan
      val agg = Par.spread(T(s, d, "orders")
          .select("o_orderkey", "o_totalprice", "o_custkey", "o_orderstatus", "o_orderpriority"))
        .agg(aggCols.head, aggCols.tail: _*)
      agg.select(expr(
        "stack(" + cols.size + ", " +
          cols.map { case (n, num) =>
            val m = if (num.isDefined) s"ma_$n, mb_$n"
              else "CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE)"
            s"'$n', n_a, n_b, nda_$n, ndb_$n, $m"
          }.mkString(", ") +
          ") AS (column_name, n_a, n_b, nd_a, nd_b, mean_a, mean_b)"))
        .withColumn("drift",
          abs(col("nd_b") - col("nd_a")) * 10L > col("nd_a") ||
            abs(coalesce(col("mean_b"), lit(0.0)) - coalesce(col("mean_a"), lit(0.0))) > 1.0)
        .orderBy("column_name")
    }),
    "data_weighted_exact_k" -> ((s, d) => {
      // exact-k weighted sampling WITHOUT replacement, integer-exact:
      // the Efraimidis–Spirakis pairwise law P(i beats j) = wᵢ/(wᵢ+wⱼ)
      // realized as key = MIN over w replicas of md5(seed, id, r) —
      // min-of-w-uniforms replaces u^(1/w), so there is NO ln/pow
      // anywhere and both engines rank identical hex strings (the
      // md5-ring convention). Weights here: 1 + doc_id mod 4 (a stand-in
      // for quality-tier weights). Top-k by key, k = 60.
      val w = TP(s, d, "documents")
        .select(col("doc_id"), (lit(1) + pmod(col("doc_id"), lit(4))).cast("int").as("weight"))
      w.select(col("doc_id"), col("weight"),
          explode(sequence(lit(0), col("weight") - 1)).as("r"))
        .select(col("doc_id"), col("weight"),
          md5(concat(lit("wk10_"), col("doc_id"), lit("_"), col("r"))).as("u"))
        .groupBy("doc_id", "weight")
        .agg(min("u").as("key"))
        .orderBy(col("key").asc)
        .limit(60)
        .select("doc_id", "weight", "key")
        .orderBy("doc_id")
    }),
    "data_epoch_plan" -> ((s, d) =>
      // training-mixture epoch plan: target ppm weights × a 2.5M-token
      // budget vs available tokens per language — epochs_ppm > 1e6
      // flags the sources the recipe would repeat (integer-exact)
      SelectionOps.epochPlan(TP(s, d, "documents"), "lang",
        size(graft.functions.TextFunctions.tokens(col("text"))),
        Map("en" -> 500000L, "de" -> 150000L, "fr" -> 150000L,
          "es" -> 100000L, "zh" -> 100000L), totalBudget = 2500000L)),
    "data_ess" -> ((s, d) => {
      // effective sample size of the soft-dedup loss weights (row 345
      // composed with Kish 1965 / Kong 1992): ESS = (Σw)²/Σw² — how
      // many "effective" documents the weighted corpus still carries
      // after near-dup down-weighting. int64→double conversion is IEEE
      // round-to-nearest in BOTH engines, so the double division
      // replays exactly even past 2^53. Σw² stays in BIGINT — exact
      // below ~9.2M docs at ppm weights; a 100 TB run would widen the
      // partial sums to DECIMAL(38,0), same plan shape.
      val docs = TP(s, d, "documents")
      val pairs = NearDup.pairs(docs)
      val labels = GraphOps.connectedComponents(pairs, "a_id", "b_id")
      val sizes = labels.groupBy("cluster_id").agg(count(lit(1)).as("n_members"))
      val w = docs.select(col("doc_id"))
        .join(labels.select(col("id").as("doc_id"), col("cluster_id")), Seq("doc_id"), "left")
        .withColumn("cluster_id", coalesce(col("cluster_id"), col("doc_id")))
        .join(sizes, Seq("cluster_id"), "left")
        .withColumn("w", expr("1000000L div coalesce(n_members, 1L)"))
      w.agg(count(lit(1)).as("n_docs"), sum("w").as("sum_w"),
          sum(expr("w * w")).as("sum_w2"))
        .select(col("n_docs"), col("sum_w"), col("sum_w2"),
          round((col("sum_w").cast("double") * col("sum_w").cast("double"))
            / col("sum_w2").cast("double"), 6).as("ess"),
          round((col("sum_w").cast("double") * col("sum_w").cast("double"))
            / col("sum_w2").cast("double") / col("n_docs"), 6).as("ess_share"))
    }),
    "data_rendezvous" -> ((s, d) => {
      // rendezvous-hashing shard plan over the customer keys: the
      // minimal-movement resharding contract (adding shard 9 moves
      // ~1/9 of keys) measured ON DATA next to the balance report.
      // See WriteOps.rendezvousPlan.
      WriteOps.rendezvousPlan(T(s, d, "customer"), "c_custkey", nShards = 8)
    }),
    "data_wasserstein" -> ((s, d) => {
      // Wasserstein-1 drift of each source's doc-length distribution vs
      // the corpus — the "how much mass moved, how far" metric
      // completing KS (data_ks_drift) and PSI (data_psi); exact integer
      // CDF-gap × grid-gap products, one double division. See
      // DriftOps.w1Distance.
      DriftOps.w1Distance(
        T(s, d, "documents").select("source", "n_chars"), "source", "n_chars")
    }),
    "data_simpson" -> ((s, d) => {
      // Simpson's-paradox monitor on the events stream: the sign of the
      // (hour-of-day × spend) association per event type vs in the
      // aggregate, reversal-flagged — integer covariance signs, no
      // float in the verdict. See StatsOps.simpsonCheck.
      StatsOps.simpsonCheck(
        EV(s, d).select(col("event_type"),
          expr("(ts_us div 3600000000) % 24").as("hod"),
          (col("value").cast("decimal(18,2)") * 100).cast("long").as("cents")),
        "event_type", col("hod"), col("cents"))
        .withColumnRenamed("stratum", "event_type")
        .orderBy("event_type")
    }),
    "data_blocklist" -> ((s, d) => {
      // domain-suffix blocklist routing (the crawl-curation kill list —
      // rule 'spamnet.io' must block every subdomain): hosts are
      // SYNTHESIZED deterministically from doc_id (the url_canon
      // precedent), then each host EXPLODES into its ≤4 label suffixes
      // and hash-joins the blocklist on EQUALITY — the 100 TB form (a
      // 1e6-rule list broadcast-joins; no per-rule LIKE scan, no
      // prefix range join). Verdict keeps the LONGEST (most specific)
      // matching rule, the standard most-specific-wins semantics.
      val subs = array(lit("www"), lit("ads"), lit("cdn"), lit("mail"), lit("shop"))
      val doms = array(lit("example.com"), lit("spamnet.io"), lit("news.org"))
      val docs = T(s, d, "documents").select(col("doc_id"),
        concat_ws(".",
          element_at(subs, (col("doc_id") % 5).cast("int") + 1),
          element_at(doms, (col("doc_id") % 3).cast("int") + 1)).as("host"))
      val rules = s.createDataFrame(Seq(
        Tuple1("spamnet.io"), Tuple1("ads.example.com"), Tuple1("mail.news.org")))
        .toDF("rule")
      val parts = split(col("host"), "\\.")
      val sufs = docs.select(col("doc_id"), col("host"),
        explode(transform(sequence(lit(1), size(parts)),
          i => array_join(slice(parts, i, size(parts)), "."))).as("suffix"))
      sufs.join(broadcast(rules), col("suffix") === col("rule"), "left")
        .groupBy("doc_id", "host")
        .agg(max(when(col("rule").isNotNull,
          struct(length(col("rule")).as("l"), col("rule").as("r")))).as("m"))
        .select(col("doc_id"), col("host"),
          col("m").isNotNull.as("blocked"), col("m.r").as("matched_rule"))
        .orderBy("doc_id")
    }),
    "data_fair_share" -> ((s, d) => {
      // max-min fair allocation (progressive water-filling — the
      // multi-tenant quota planner: small requests fully granted, the
      // residual capacity split evenly among the big ones): tenants =
      // order priorities, demand = order count, capacity = half of
      // total demand. Closed form over the demand-sorted prefix: the
      // water level L solves Σ min(dᵢ, L) = C; tenant i saturates iff
      // dᵢ ≤ L. All candidates tested with INTEGER cross-products
      // (prefix sums × remaining counts), the level itself emitted as
      // exact num/den integers + one double division. One tiny agg +
      // a priority-count-sized window — nothing corpus-wide.
      val dem = T(s, d, "orders").groupBy(col("o_orderpriority").as("tenant"))
        .agg(count(lit(1)).cast("long").as("demand"))
      val tot = dem.agg((sum("demand") / 2).cast("long").as("capacity"),
        count(lit(1)).cast("long").as("n_tenants"))
      val w = Window.orderBy(col("demand"), col("tenant"))
      val wAll = Window.partitionBy()
      val ranked = dem.crossJoin(broadcast(tot))
        .withColumn("rk", row_number().over(w))
        .withColumn("prefix", sum("demand").over(
          w.rowsBetween(Window.unboundedPreceding, 0)).cast("long"))
        // tenant rk saturates iff demand_rk·(remaining after granting
        // the prefix IN FULL) ≤ capacity − prefix ... i.e. the water
        // level is above demand_rk: (C − prefix_rk) ≥ d_rk·(n − rk)
        .withColumn("saturated",
          (col("capacity") - col("prefix")) >= col("demand") * (col("n_tenants") - col("rk")))
      val level = ranked
        .withColumn("sat_prefix",
          max(when(col("saturated"), struct(col("rk"), col("prefix")))).over(wAll))
        .withColumn("lvl_num",
          col("capacity") - coalesce(col("sat_prefix.prefix"), lit(0L)))
        .withColumn("lvl_den",
          col("n_tenants") - coalesce(col("sat_prefix.rk"), lit(0L)))
      level.select(col("tenant"), col("demand"), col("capacity"),
          col("saturated"),
          when(col("saturated"), col("demand"))
            .otherwise(expr("lvl_num div lvl_den")).as("granted_floor"),
          col("lvl_num"), col("lvl_den"),
          when(col("saturated"), col("demand").cast("double"))
            .otherwise(col("lvl_num").cast("double") / col("lvl_den").cast("double"))
            .as("granted"))
        .orderBy("tenant")
    }),
    "data_acceptance_sampling" -> ((s, d) => {
      // double acceptance-sampling QA (the ANSI-Z1.4 shape applied to
      // corpus shards): per source, a deterministic md5 stage-1 sample
      // of 20 docs — accept at k₁ ≤ 1 bad, reject at k₁ ≥ 4, otherwise
      // draw the DISJOINT md5 stage-2 sample of 40 and accept iff
      // k₁+k₂ ≤ 4. 'bad' = n_chars < 150 (the length rule from the
      // quality battery). All verdicts integer. Both draws are rank
      // PREDICATES over capPerKey (InferWindowGroupLimit's map-side
      // partial heap — the data_stratified_exact_k core), so each task
      // forwards ≤ 20/40 rows per source and NO full per-source sort
      // ever runs; stage 2 excludes stage 1 by a broadcast anti-join of
      // the ≤ 20·|sources| stage-1 ids (round-12 verdict item 1 — the
      // prior form ranked as a COLUMN, full-sorting every shard twice
      // to inspect 60 docs).
      def h(seed: String) =
        conv(substring(md5(concat(lit(seed), col("doc_id").cast("string"))), 1, 8), 16, 10)
          .cast("long")
      val docs = T(s, d, "documents").select(col("doc_id"), col("source"),
        (col("n_chars") < 150).cast("int").as("bad"),
        h("acc1:").as("h1"), h("acc2:").as("h2"))
      val s1 = CorpusOps.capPerKey(docs, "source",
        Seq(col("h1").asc, col("doc_id").asc), 20)
      val s2 = CorpusOps.capPerKey(
        docs.join(broadcast(s1.select("doc_id")), Seq("doc_id"), "left_anti"),
        "source", Seq(col("h2").asc, col("doc_id").asc), 40)
      val k1 = s1.groupBy("source")
        .agg(count(lit(1)).cast("long").as("n1"), sum("bad").cast("long").as("k1"))
      val k2 = s2.groupBy("source")
        .agg(count(lit(1)).cast("long").as("n2"), sum("bad").cast("long").as("k2"))
      k1.join(k2, Seq("source"), "left")
        .select(col("source"), col("n1"), col("k1"),
          coalesce(col("n2"), lit(0L)).as("n2"), coalesce(col("k2"), lit(0L)).as("k2"))
        .withColumn("decided_at_stage",
          when(col("k1") <= 1 || col("k1") >= 4, 1L).otherwise(2L))
        .withColumn("accepted",
          when(col("k1") <= 1, lit(true))
            .when(col("k1") >= 4, lit(false))
            .otherwise(col("k1") + col("k2") <= 4))
        .orderBy("source")
    })
  )
}
