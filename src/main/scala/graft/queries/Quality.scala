package graft
package queries

import graft.functions.TextFunctions
import graft.operators._
import graft.queries.Inputs._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Data-quality queries (`quality_*`). */
object Quality {

  /** `(doc_id, source, is_en, score_milli)`: each document's integer
    * milli-score under the hashed linear quality model (dim 64), labeled
    * with whether the document is English. */
  private def scoredLabels(s: SparkSession, d: String): DataFrame = {
    val docs = TP(s, d, "documents")
    val scored = CorpusOps.linearModelScore(docs, "doc_id", "text", dim = 64)
    docs
      .select(col("doc_id"), col("source"), (col("lang") === "en").as("is_en"))
      .join(scored.select("doc_id", "score_milli"), Seq("doc_id"))
  }

  /** [[scoredLabels]] pinned EAGER (r15) for isotonicCalibration, which
    * evaluates its input twice (min/max collect + cell collect): unpinned,
    * the hashed-featurization scan ran per pass; the pin is 4 narrow columns. */
  private def calibrationInput(s: SparkSession, d: String): DataFrame =
    scoredLabels(s, d).transform(Ckpt.eagerCkpt)

  val queries: Seq[(String, Query)] = Seq(
    "quality_calibrate" -> ((s, d) => {
      // per-source percent_rank of the quality score: "keep the top 20%"
      // applied uniformly across sources with different score profiles
      val scored = TP(s, d, "documents")
        .select(col("doc_id"), col("source"), TextFunctions.normText(col("text")).as("norm"))
        .select(col("doc_id"), col("source"), col("norm"),
          TextFunctions.tokensFromNorm(col("norm")).as("tk"))
        .select(col("doc_id"), col("source"),
          TextFunctions.qualityScoreFrom(
            size(col("tk")), length(col("norm")),
            TextFunctions.punctCountFromNorm(col("norm")),
            TextFunctions.tokenHitsFromTokens(col("tk"), TextFunctions.allStopwords))
            .as("quality_score"))
        // EAGER (r15): the calibrate core consumes this 3× (band agg,
        // rank join, totals) with concurrent stages — unpinned, the
        // tokenize+score scan ran per consumer; the pinned frame is 3
        // narrow columns, not the corpus
        .transform(Ckpt.eagerCkpt)
      CorpusOps.calibrateByKey(scored, "source", "quality_score", "doc_id")
        .withColumn("kept", (col("pct_rank") >= 0.8).cast("int"))
        .orderBy("doc_id")
    }),
    "quality_model_score" -> ((s, d) => {
      // linear quality-model inference over hashed features: exact
      // integer milli-scores from md5-derived weights, sign-threshold
      // verdict — the apply side of a fastText-style filter
      CorpusOps.linearModelScore(TP(s, d, "documents"), "doc_id", "text", dim = 64)
        .orderBy("doc_id")
    }),
    "quality_oov" -> ((s, d) =>
      CorpusOps.oovRate(TP(s, d, "documents"), "doc_id", "text", topV = 20)
        .orderBy("doc_id")),
    "quality_model_auc" -> ((s, d) => {
      // exact ROC-AUC of the hashed linear quality model at predicting
      // English, per source: Mann-Whitney pair identity on the integer
      // milli-score DISTRIBUTION — no global rank sort ever happens
      // (StatsOps.aucExact); one doc_id-keyed join carries the labels
      StatsOps.aucExact(scoredLabels(s, d), "source", "score_milli", "is_en")
    }),
    "quality_kappa" -> ((s, d) => {
      // inter-annotator agreement: Cohen's kappa between two independent
      // deterministic labelers (A: ≥400 chars; B: ≥70 spaces — a
      // whitespace-token proxy). Confusion counts in ONE scan → one agg
      // row; po/pe/kappa are closed-form doubles from integer counts.
      // The QA step for comparing a heuristic labeler against a model
      // labeler (or two annotator pools) before trusting either's labels.
      val la = (col("n_chars") >= 400).cast("int")
      val lb = ((length(col("text")) - length(regexp_replace(col("text"), " ", ""))) >= 70).cast("int")
      T(s, d, "documents")
        .select(la.as("la"), lb.as("lb"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("la") === 1 && col("lb") === 1, 1L).otherwise(0L)).as("n11"),
          sum(when(col("la") === 1 && col("lb") === 0, 1L).otherwise(0L)).as("n10"),
          sum(when(col("la") === 0 && col("lb") === 1, 1L).otherwise(0L)).as("n01"),
          sum(when(col("la") === 0 && col("lb") === 0, 1L).otherwise(0L)).as("n00"))
        .withColumn("po", (col("n11") + col("n00")).cast("double") / col("n").cast("double"))
        .withColumn("pa1", (col("n11") + col("n10")).cast("double") / col("n").cast("double"))
        .withColumn("pb1", (col("n11") + col("n01")).cast("double") / col("n").cast("double"))
        .withColumn("pe",
          col("pa1") * col("pb1") + (lit(1.0) - col("pa1")) * (lit(1.0) - col("pb1")))
        .select(col("n"), col("n11"), col("n10"), col("n01"), col("n00"), col("po"),
          col("pe"), ((col("po") - col("pe")) / (lit(1.0) - col("pe"))).as("kappa"))
    }),
    "quality_label_prop" -> ((s, d) => {
      // one semi-supervised label-propagation round: docs with
      // doc_id % 5 == 0 are "labeled" (their lang); every unlabeled doc
      // adopts the MAJORITY label among its labeled near-dup neighbors
      // (tie-break min label), with the vote margin emitted. One join
      // against the dup-sized pair graph + one (doc,label) count + one
      // per-doc argmax window — the relabeling pass a curation pipeline
      // runs after clustering to spread scarce human labels.
      val docs = TP(s, d, "documents")
      val pairs = NearDup.pairs(docs)
      val und = pairs.select(col("a_id").as("src"), col("b_id").as("dst"))
        .unionByName(pairs.select(col("b_id").as("src"), col("a_id").as("dst")))
      val labeled = docs.filter(col("doc_id") % 5 === 0)
        .select(col("doc_id").as("dst"), col("lang").as("label"))
      val votes = und.join(labeled, "dst")
        .filter(col("src") % 5 =!= 0)
        .groupBy(col("src"), col("label"))
        .agg(count(lit(1)).as("n_votes"))
      val w = Window.partitionBy("src").orderBy(col("n_votes").desc, col("label"))
      votes
        .withColumn("n_nbrs", sum("n_votes").over(Window.partitionBy("src")))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") === 1)
        .select(col("src").as("doc_id"), col("label").as("pred_label"),
          col("n_votes"), col("n_nbrs").cast("bigint").as("n_nbrs"))
        .orderBy("doc_id")
    }),
    "quality_model_fit" -> ((s, d) => {
      // closed-form linear-probe TRAINING (StatsOps.linearProbeFit):
      // is-English ≈ w0 + w1·n_tokens + w2·stopword_hits fit by normal
      // equations from ONE sufficient-statistics pass (9 decimal-exact
      // integer moments, map-side combined), Cramer solve + SSE as a
      // fixed double expression on the 1-row stats, and a broadcast
      // eval pass counting threshold-½ correct predictions — the
      // inference twin is row 135; this is the TRAINING side, with no
      // gradient loop and no driver-side data. (The synthetic corpus's
      // lang is nearly independent of its text, so accuracy ≈ the class
      // base rate here — honest; the spec proves exact recovery +
      // accuracy 1.0 on a separable corpus.)
      val docs = TP(s, d, "documents")
      StatsOps.linearProbeFit(docs,
        x1 = size(TextFunctions.tokens(col("text"))),
        x2 = TextFunctions.tokenHits(col("text"), TextFunctions.stopwords("en")),
        label = when(col("lang") === "en", 1L).otherwise(0L))
    }),
    "quality_ece" -> ((s, d) => {
      // expected calibration error of the row-311 probe (Guo et al.
      // 2017): 10 equal-width prediction bins, per-bin
      // |mean confidence − positive rate|, n-weighted scalar ECE.
      // Per-row confidences round to 9 decimals and sum as DECIMAL
      // (order-independent); the ≤10-term ECE fold runs in bin order
      // over a collected array (the anova convention).
      val docs = TP(s, d, "documents")
      StatsOps.probeCalibration(docs,
          x1 = size(TextFunctions.tokens(col("text"))),
          x2 = TextFunctions.tokenHits(col("text"), TextFunctions.stopwords("en")),
          label = when(col("lang") === "en", 1L).otherwise(0L), bins = 10)
        .orderBy("bin")
    }),
    "quality_pr_curve" -> ((s, d) => {
      // exact precision-recall curve of the hashed linear quality model
      // at predicting English, per source — one (tp, fp, fn, p, r, f1)
      // point per DISTINCT integer milli-score threshold (the aucExact
      // score-domain posture: the cumulative window runs over distinct
      // scores, never rows). The operating-point picker every
      // quality-filter deployment needs next to the scalar AUC row.
      StatsOps.prCurve(scoredLabels(s, d), "source", "score_milli", "is_en")
        .orderBy(col("source"), col("threshold").desc)
    }),
    "quality_krippendorff" -> ((s, d) => {
      // Krippendorff's alpha over a synthesized 3-rater annotation
      // table (the dirty-copy precedent): each rater covers ~80% of
      // docs (md5 presence), labels = lang with ~14% md5-noise — the
      // missing-data agreement readout quality_kappa cannot give.
      // Integer-exact coincidence algebra; ONE double division.
      val langs = array(lit("en"), lit("de"), lit("es"), lit("fr"), lit("zh"))
      def h(r: Int) =
        conv(substring(md5(concat(lit(s"kr$r:"), col("doc_id"))), 1, 8), 16, 10)
          .cast("long")
      val docs = T(s, d, "documents").select(col("doc_id"), col("lang"))
      val ratings = (1 to 3).map { r =>
        docs.select(col("doc_id"), lit(r).as("rater"),
            when(h(r) % 7 === 0,
              element_at(langs, ((h(r) / 35) % 5).cast("int") + 1))
              .otherwise(col("lang")).as("lab"),
            h(r).as("__h"))
          .filter(col("__h") % 5 =!= 0)
          .drop("__h")
      }.reduce(_ unionByName _)
      StatsOps.krippendorffAlpha(ratings, "doc_id", "rater", "lab")
    }),
    "quality_isotonic" -> ((s, d) => {
      // isotonic calibration (PAV) of the hashed linear quality model
      // at predicting English, per source — the NONPARAMETRIC
      // calibrator beside quality_calibrate (percent-rank) and
      // quality_ece: per-bin empirical rates replaced by the closest
      // non-decreasing fit, violator merges decided by EXACT integer
      // cross-multiplication. The twin replays via the minimax closed
      // form (unique-solution property). See StatsOps.isotonicCalibration.
      StatsOps.isotonicCalibration(calibrationInput(s, d), "source", "score_milli", "is_en", bins = 16)
        .orderBy("source", "bin")
    }),
    "quality_mcnemar" -> ((s, d) => {
      // McNemar's paired test comparing TWO hashed linear models
      // (dim 64 vs dim 32 — different feature collisions) at predicting
      // English on the SAME docs, per source — the statistically-right
      // model-swap decision next to the scalar AUCs. See
      // StatsOps.mcnemar.
      val docs = TP(s, d, "documents")
      val base = docs.select(col("doc_id"), col("source"),
        (col("lang") === "en").as("is_en"))
      val a = CorpusOps.linearModelScore(docs, "doc_id", "text", dim = 64)
        .select(col("doc_id"), col("kept").as("pred_a"))
      val b = CorpusOps.linearModelScore(docs, "doc_id", "text", dim = 32)
        .select(col("doc_id"), col("kept").as("pred_b"))
      val j = base.join(a, Seq("doc_id")).join(b, Seq("doc_id"))
      StatsOps.mcnemar(j, "source",
          col("pred_a") === col("is_en"), col("pred_b") === col("is_en"))
        .orderBy("source")
    }),
    "quality_brier" -> ((s, d) => {
      // Murphy decomposition of the Brier score over the isotonic-
      // calibrated forecasts of quality_isotonic — REL/RES/UNC per
      // source; the forecast-quality readout that separates "the model
      // is miscalibrated" from "the model cannot discriminate". See
      // StatsOps.brierDecomposition.
      StatsOps.brierDecomposition(
        StatsOps.isotonicCalibration(calibrationInput(s, d), "source", "score_milli", "is_en", bins = 16),
        "source")
        .orderBy("source")
    }),
    "quality_fleiss" -> ((s, d) => {
      // Fleiss' kappa over the SAME synthesized annotation setup as
      // row 375's Krippendorff alpha but with the FIXED 3-raters-per-
      // item design Fleiss assumes (no coverage filter) — the
      // agreement metric for a complete multi-rater pass; integer
      // numerators, three fixed-order doubles. See StatsOps.fleissKappa.
      val langs = array(lit("en"), lit("de"), lit("es"), lit("fr"), lit("zh"))
      def h(r: Int) =
        conv(substring(md5(concat(lit(s"kr$r:"), col("doc_id"))), 1, 8), 16, 10)
          .cast("long")
      val docs = T(s, d, "documents").select(col("doc_id"), col("lang"))
      val ratings = (1 to 3).map { r =>
        docs.select(col("doc_id"), lit(r).as("rater"),
          when(h(r) % 7 === 0,
            element_at(langs, ((h(r) / 35) % 5).cast("int") + 1))
            .otherwise(col("lang")).as("lab"))
      }.reduce(_ unionByName _)
      StatsOps.fleissKappa(ratings, "doc_id", "rater", "lab")
    }),
    "quality_rater_accuracy" -> ((s, d) => {
      // per-annotator accuracy vs gold with a Wilson LOWER bound (the
      // per-rater diagnostic completing the agreement family — kappa/
      // alpha say whether raters agree, THIS says which rater to
      // retrain; the bound keeps small-n raters from ranking high on
      // luck). Same synthesized 3-rater table as row 375 (md5-noised
      // lang labels, ~80% coverage); gold = the true lang. Integer
      // counts, literal z, sqrt-only math (the events_error_wilson
      // convention).
      val langs = array(lit("en"), lit("de"), lit("es"), lit("fr"), lit("zh"))
      def h(r: Int) =
        conv(substring(md5(concat(lit(s"kr$r:"), col("doc_id"))), 1, 8), 16, 10)
          .cast("long")
      val docs = T(s, d, "documents").select(col("doc_id"), col("lang"))
      val ratings = (1 to 3).map { r =>
        docs.select(col("doc_id"), lit(r).as("rater"), col("lang"),
            when(h(r) % 7 === 0,
              element_at(langs, ((h(r) / 35) % 5).cast("int") + 1))
              .otherwise(col("lang")).as("lab"),
            h(r).as("__h"))
          .filter(col("__h") % 5 =!= 0)
          .drop("__h")
      }.reduce(_ unionByName _)
      val z = "1.959963984540054D"
      ratings.groupBy("rater")
        .agg(count(lit(1)).cast("long").as("n_rated"),
          sum(when(col("lab") === col("lang"), 1L).otherwise(0L)).as("n_correct"))
        .withColumn("nn", col("n_rated").cast("double"))
        .withColumn("p", col("n_correct").cast("double") / col("nn"))
        .withColumn("wilson_low",
          expr(s"(p + $z * $z / (2.0D * nn) - $z * sqrt(p * (1.0D - p) / nn " +
            s"+ $z * $z / (4.0D * nn * nn))) / (1.0D + $z * $z / nn)"))
        .select(col("rater"), col("n_rated"), col("n_correct"),
          col("p").as("accuracy"), col("wilson_low"),
          (col("wilson_low") >= 0.8).as("meets_bar"))
        .orderBy("rater")
    }),
    "quality_conformal" -> ((s, d) => {
      // Mondrian split-conformal calibration (Papadopoulos et al. 2002
      // inductive conformal prediction; Vovk's taxonomy for the
      // per-group form): wrap a FIXED token-count predictor
      // (ŷ = (n_chars+3) div 7 — conformal wraps ANY point model, the
      // guarantee needs only exchangeability) with per-lang prediction
      // intervals at α = 1/10. Nonconformity = |y − ŷ| in whole
      // tokens; calibration = md5 buckets 0-7 (8 of 16 — the
      // data_split machinery), test = the rest. Per-lang threshold =
      // the ⌈(n_cal+1)(1−α)⌉-th smallest calibration error — k in
      // exact integers ((9(n+1)+9) div 10), picked as the min err
      // whose cumulative count ≥ k over the (lang, err) VALUE-DOMAIN
      // grid (the window rides the domain-sized aggregate, never a raw
      // per-lang partition — the §5.1 class rule); k > n_cal ⇒ q NULL
      // = the infinite interval, every test row covered. Test coverage
      // in exact ppm: the marginal ≥ 1−α guarantee audited per group
      // as data.
      // ONE corpus pass: everything folds into the (lang, err, is_cal)
      // VALUE-DOMAIN grid via a map-side partial agg; the threshold
      // pick, the calibration counts AND the test coverage all read the
      // domain-sized grid — the corpus is never scanned or shuffled
      // twice, and no per-lang partition ever holds raw rows
      val grid3 = TP(s, d, "documents").select(
          col("lang"),
          abs(size(TextFunctions.tokens(col("text"))).cast("long")
            - expr("cast((n_chars + 3) div 7 as bigint)")).as("err"),
          (SplitOps.bucket16(col("doc_id")) < 8).as("is_cal"))
        .groupBy("lang", "err", "is_cal")
        .agg(count(lit(1)).as("cnt"))
        .transform(Ckpt.lazyCkpt) // domain-sized; feeds 3 consumers
      val calg = grid3.filter(col("is_cal"))
      val nCal = calg.groupBy("lang").agg(sum("cnt").cast("long").as("n_cal"))
        .withColumn("k", expr("(9 * (n_cal + 1) + 9) div 10"))
      val wg = Window.partitionBy("lang").orderBy("err")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      // every lang-keyed frame below is ≤|lang domain| rows — the
      // broadcast hints are BroadcastSizeAudit-classified DomainSized
      val qs = calg.withColumn("cum", sum("cnt").over(wg))
        .join(broadcast(nCal), Seq("lang"))
        .filter(col("cum") >= col("k"))
        .groupBy("lang").agg(min("err").as("q"))
      val thr = nCal.join(broadcast(qs), Seq("lang"), "left")
      val cov = grid3.filter(!col("is_cal"))
        .join(broadcast(thr.select("lang", "q")), Seq("lang"))
        .groupBy("lang").agg(sum("cnt").cast("long").as("n_test"),
          sum(when(col("q").isNull || col("err") <= col("q"), col("cnt"))
            .otherwise(0L)).cast("long").as("covered"))
      thr.join(broadcast(cov), Seq("lang"), "left")
        .select(col("lang"), col("n_cal"), col("k"), col("q").cast("long").as("q"),
          coalesce(col("n_test"), lit(0L)).as("n_test"),
          coalesce(col("covered"), lit(0L)).as("covered"))
        .withColumn("covered_ppm",
          when(col("n_test") > 0,
            expr("(covered * 1000000) div n_test")).cast("long"))
        .orderBy("lang")
    })
  )
}
