package graft
package queries

import graft.functions.VectorFunctions
import graft.operators._
import graft.queries.Inputs._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Vector and ANN-index queries (`vec_*`, `ann_*`). */
object Vectors {

  /** The side-tagged (side, id, cell, cent_sim, qerr) dump the
    * `ann_ivfpq_drift` oracle replays (round-11 verdict item 9): the
    * persisted IVF-PQ index is (re)built from the BASE generation —
    * unique `graft_ivfpqdrift_idx` prefix, staged-swap idempotent —
    * then both sides are assigned + self-ADC'd under its frozen
    * centroids and codebook. The delta is a DRIFTED copy of the corpus
    * (v' = v + 0.4·rot(v, 16), ids +500000): big enough to shift cell
    * occupancy and inflate residual quantization error, so the monitor
    * has real signal to report. */
  def ivfPqDriftCellsDump(s: SparkSession, d: String): DataFrame = {
    val emb = embeddings(s, d)
    val dim = 64
    val delta = emb
      .withColumn("vec_id", col("vec_id") + 500000L)
      .withColumn("vec", zip_with(
        col("vec"),
        concat(slice(col("vec"), 17, dim - 16), slice(col("vec"), 1, 16)),
        (x, y) => x + lit(0.4) * y))
    val idx = VectorIndexOps.buildIvfPqIndex(emb, "vec_id", "vec",
      "graft_ivfpqdrift_idx", nCells = 8, numBuckets = 4, subspaces = 16, codes = 16)
    val tagged = emb.withColumn("side", lit("base"))
      .unionByName(delta.withColumn("side", lit("delta")))
    VectorIndexOps.ivfPqDriftCells(tagged, "side", "vec_id", "vec", idx)
  }

  val queries: Seq[(String, Query)] = Seq(
    "vec_quantize" -> ((s, d) => {
      // int8 scalar quantization of the embedding table (4× storage cut)
      // + reconstruction error, both engines computing the identical
      // arithmetic: per-vector min/max, codes = round((x-lo)·255/range),
      // max |x − dequant(x)| per vector
      val vecs = embeddings(s, d)
      val q = vecs.withColumn("q", VectorFunctions.quantize8(col("vec")))
      q.select(
        col("vec_id"),
        col("q.lo").as("lo"),
        col("q.hi").as("hi"),
        array_max(zip_with(col("vec"), VectorFunctions.dequantize8(col("q")),
          (a, b) => abs(a - b))).as("max_abs_err"))
        .orderBy("vec_id")
    }),

    "ann_bruteforce" -> ((s, d) => {
      val vecs = embeddings(s, d)
      SimilarityOps
        .bruteForceTopK(vecs, AnnRecall.queries(vecs), "vec_id", "vec", AnnRecall.k)
        .orderBy("query_id", "rank")
    }),
    "ann_lsh" -> ((s, d) => {
      // LSH result rows depend on the hash buckets (not SQL-replicable),
      // so the DRIVER-checked output is the recall-vs-brute-force
      // invariant as data: one row the DuckDB oracle states as constants.
      // Exact top-k rows are exercised by the ScalaTest recall spec.
      val vecs = embeddings(s, d)
      val queries = AnnRecall.queries(vecs)
      val k = AnnRecall.k
      val bf = AnnRecall.exact(vecs, queries)
      // Hamming-1 multi-probe at nBits=5/nTables=8: per-table hit prob
      // rises p⁵ → p⁵+5p⁴(1-p), so FEWER tables than the old single-probe
      // nTables=12 while recall clears 0.8 with margin (measured ≥0.9 at
      // sf0.01/sf0.1, ≥0.97 at sf0.001, on this corpus's ~0.4-cosine
      // neighbor geometry; the old setup measured 0.65-0.70 vs a 0.5 bar)
      val lsh = SimilarityOps.lshTopK(vecs, queries, "vec_id", "vec", k,
          nBits = 5, nTables = 8, multiProbe = true)
      AnnRecall.check(bf, lsh, 0.8)
    }),
    "ann_ivf" -> ((s, d) => {
      // IVF coarse-quantization ANN (the nProbe/nCells scan-fraction knob);
      // like ann_lsh, driver-checked via the recall-vs-brute-force
      // invariant; exact rows pinned by the ScalaTest recall spec.
      // Round 5: √n adaptive sizing (ivfTopKAuto) replaced the fixed
      // 16-cell index whose centroids were noisy at 500 vectors —
      // measured recall@5 0.825/0.95/0.85 at sf0.001/0.01/0.1
      // (deterministic), so the invariant rises 0.7 → 0.8
      val vecs = embeddings(s, d)
      val queries = AnnRecall.queries(vecs)
      AnnRecall.check(AnnRecall.exact(vecs, queries),
        SimilarityOps.ivfTopKAuto(vecs, queries, "vec_id", "vec", AnnRecall.k), 0.8)
    }),

    "vec_meanpool" -> ((s, d) => {
      // chunk embeddings → document embedding by deterministic mean
      // pooling (decimal-exact per-position sums → replay-stable vector);
      // the oracle checks dim/count plus two sampled positions (array
      // outputs don't hash portably — scalars do)
      val pooled = SimilarityOps.meanPool(
        TP(s, d, "embeddings").select(pmod(col("vec_id"), lit(50)).as("grp"), col("embedding")),
        "grp", "embedding")
      pooled.select(
          col("grp"),
          size(col("mean_vec")).cast("long").as("dim"),
          col("n_vectors").as("n_chunks"),
          element_at(col("mean_vec"), 1).as("v0"),
          element_at(col("mean_vec"), 32).as("v31"))
        .orderBy("grp")
    }),
    "vec_hash_features" -> ((s, d) => {
      // hashing-trick featurization: 16-dim sparse COO vectors with no
      // vocabulary state (md5-bucketed, engine-portable)
      CorpusOps.hashedFeatures(TP(s, d, "documents"), "doc_id", "text", dim = 16)
        .orderBy("doc_id", "bucket")
    }),
    "vec_project" -> ((s, d) => {
      // Rademacher random projection 64 → 4 dims: md5-signed sums,
      // decimal-stable components — deterministic on any engine
      SimilarityOps.randomProjection(TP(s, d, "embeddings"), "vec_id", "embedding",
          dim = 64, outDims = 4, seed = "rp")
        .orderBy("vec_id", "j")
    }),
    "vec_kmeans_step" -> ((s, d) =>
      ClusterOps.kmeansStep(TP(s, d, "embeddings"), "vec_id", "embedding", k = 8)),
    "vec_norm_audit" -> ((s, d) => {
      // embedding hygiene report: per-vector L2 norm with a FIXED
      // left-fold operation order (identical IEEE sequence in DuckDB's
      // list_reduce), bucketed into zero/small/unit/large. Projection +
      // one tiny agg — the norm never leaves the map side.
      val v = TP(s, d, "embeddings").select(col("vec_id"),
        VectorFunctions.asDouble(col("embedding")).as("v"))
      val norm = sqrt(aggregate(col("v"), lit(0.0), (acc, x) => acc + x * x))
      v.select(col("vec_id"), norm.as("norm"))
        .withColumn("bucket",
          when(col("norm") === 0.0, "zero")
            .when(col("norm") < 0.5, "small")
            .when(col("norm") <= 2.0, "unit")
            .otherwise("large"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n"), min("norm").as("min_norm"), max("norm").as("max_norm"))
        .orderBy("bucket")
    }),
    "vec_power_iteration" -> ((s, d) =>
      LinAlgOps.powerIterationStep(TP(s, d, "embeddings"), "vec_id", "embedding")),
    "ann_ivf_index" -> ((s, d) => {
      // the PERSISTED IVF index (vector twin of dedup_incremental's
      // bucketed band index): build → catalog tables → probe with the
      // index side bucket-pruned and Exchange-free; same √n sizing and
      // recall-vs-brute-force invariant as ann_ivf
      val vecs = embeddings(s, d)
      val n = vecs.count()
      val nCells = math.max(4, math.sqrt(n.toDouble).toInt)
      val nProbe = math.max(2, nCells / 2)
      val idx = VectorIndexOps.buildIvfIndex(vecs, "vec_id", "vec", "graft_ivf_idx",
        nCells, numBuckets = 4)
      val queries = AnnRecall.queries(vecs)
      AnnRecall.check(AnnRecall.exact(vecs, queries),
        VectorIndexOps.probeIvf(s, queries, "vec_id", "vec", idx, AnnRecall.k, nProbe), 0.8)
    }),
    "vec_centroid_affinity" -> ((s, d) => {
      // label-centroid affinity matrix, EXACT until two final double ops:
      // per-(label,pos) component sums in DECIMAL(18,9) (order-independent
      // across the shuffle), dot/norms as exact decimal sums of products
      // (a float dot-product fold is NOT replay-stable cross-engine —
      // measured 8e-16 drift vs DuckDB), and since cosine is scale-
      // invariant and dot-of-means = dotsum/(na·nb), the mean division
      // never happens in FP. The corpus is touched ONCE (posexplode →
      // partial agg); everything after is label×dim-sized.
      val moments = TP(s, d, "embeddings")
        .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "x")))
        .groupBy("label", "pos")
        .agg(sum(col("x").cast("double").cast("decimal(18,9)"))
               .cast("decimal(18,9)").as("sx"),
             count(lit(1)).as("nv"))
        .transform(Ckpt.lazyCkpt) // feeds norms + both pair sides
      val norms = moments.groupBy("label")
        .agg(sum(col("sx") * col("sx")).cast("decimal(38,18)").cast("string")
               .cast("double").as("norm2"),
             max(col("nv")).as("nv"))
      val pairs = moments.as("a")
        .join(broadcast(moments.as("b")),
          col("a.pos") === col("b.pos") && col("a.label") < col("b.label"))
        .groupBy(col("a.label").as("label_a"), col("b.label").as("label_b"))
        .agg(sum(col("a.sx") * col("b.sx")).cast("decimal(38,18)").cast("string")
               .cast("double").as("dotsum"))
      pairs
        .join(broadcast(norms.select(col("label").as("label_a"),
          col("norm2").as("na2"), col("nv").as("na"))), Seq("label_a"))
        .join(broadcast(norms.select(col("label").as("label_b"),
          col("norm2").as("nb2"), col("nv").as("nb"))), Seq("label_b"))
        .select(col("label_a"), col("label_b"),
          (col("dotsum") / (col("na") * col("nb")).cast("double")).as("dot"),
          (col("dotsum") / (sqrt(col("na2")) * sqrt(col("nb2")))).as("cosine"))
        .orderBy("label_a", "label_b")
    }),
    "ann_pq_adc" -> ((s, d) => {
      // PQ-compressed ANN: corpus → 8 codes/vector (sampled codebook),
      // queries rank by asymmetric distance to the reconstructions.
      // Like ann_lsh/ann_ivf, driver-checked via the recall-vs-L2-brute-
      // force invariant (codebook-dependent rows aren't SQL-replicable).
      val vecs = embeddings(s, d)
      val queries = AnnRecall.queries(vecs)
      val k = AnnRecall.k
      val q = queries.select(col("vec_id").as("query_id"), col("vec").as("q_vec"))
      val bfw = Window.partitionBy("query_id").orderBy(col("l2"), col("neighbor_id"))
      val bf = vecs.select(col("vec_id").as("neighbor_id"), col("vec").as("c_vec"))
        .join(broadcast(q), col("neighbor_id") =!= col("query_id"))
        .withColumn("l2", expr(
          """aggregate(zip_with(q_vec, c_vec, (x, y) -> (x - y) * (x - y)),
            | cast(0.0 as double), (acc, v) -> acc + v)""".stripMargin))
        .withColumn("rk", row_number().over(bfw)).filter(col("rk") <= k)
        .select("query_id", "neighbor_id")
      // candidate budget = corpus/4 (the scan-fraction knob): codes prune
      // 75% of full-precision reads; recall@5 measured 0.775/0.925/0.85
      // at sf0.001/0.01/0.1 (deterministic) — invariant bar 0.6 with margin
      val n = vecs.count()
      val pq = SimilarityOps.pqAdcRerankTopK(vecs, queries, "vec_id", "vec", k,
          nCandidates = math.max(64, (n / 4).toInt))
      AnnRecall.check(bf, pq, 0.6)
    }),
    "vec_pq" -> ((s, d) => {
      // product quantization: 64 dims → 8 subspaces × 8 dims, each coded
      // to the nearest of 16 codebook centroids — 64 floats become 8
      // small codes (the 32× compression ANN recall tables ride on).
      // The codebook is a LITERAL 1024-double array (md5-derived, so the
      // oracle rebuilds it bit-for-bit via SQL md5), assignment is pure
      // map-side in-row HOF arithmetic — the corpus never shuffles, and
      // the only exchange is the final ORDER BY. Distances fold in fixed
      // k-order with a +0.0 seed, so qerr doubles replay cross-engine.
      val J = 8; val C = 16; val K = 8
      def cent(j: Int, c: Int, k: Int): Double = {
        val md = java.security.MessageDigest.getInstance("MD5")
        val hex = md.digest(s"pq:$j:$c:$k".getBytes("UTF-8"))
          .map("%02x".format(_)).mkString
        (java.lang.Long.parseLong(hex.substring(0, 8), 16) % 2001 - 1000) / 1000.0
      }
      val cents = array((for (j <- 0 until J; c <- 0 until C; k <- 0 until K)
        yield lit(cent(j, c, k))): _*)
      TP(s, d, "embeddings")
        .select(col("vec_id"),
          VectorFunctions.asDouble(col("embedding")).as("v"))
        .withColumn("cent", cents)
        .select(col("vec_id"), posexplode(expr(
          s"""transform(sequence(0, ${J - 1}), j ->
             |  transform(sequence(0, ${C - 1}), c ->
             |    aggregate(sequence(1, $K), cast(0.0 as double), (acc, k) ->
             |      acc + (element_at(v, j*$K + k) - element_at(cent, (j*$C + c)*$K + k))
             |          * (element_at(v, j*$K + k) - element_at(cent, (j*$C + c)*$K + k)))))
             |""".stripMargin)).as(Seq("sub_j", "dists")))
        .select(col("vec_id"), col("sub_j"),
          (array_position(col("dists"), array_min(col("dists"))) - 1).cast("int").as("code"),
          array_min(col("dists")).as("qerr"))
        .orderBy("vec_id", "sub_j")
    }),
    "vec_matryoshka" -> ((s, d) => {
      // Matryoshka truncation eval: per probe query, overlap between the
      // exact top-5 by FULL-dim cosine and top-5 by first-16-dims cosine
      // — the measurement that decides whether a truncated index (4×
      // cheaper per vector) is good enough for first-stage retrieval.
      // Both rankings use the brute-force contract (round-6 cosine, id
      // tie-break); overlap is a semi join of the two 5-row-per-query
      // sets. Queries broadcast; the corpus never self-joins.
      val vecs = embeddings(s, d)
        .transform(Ckpt.lazyCkpt) // both rankings read it
      val tr = vecs.select(col("vec_id"), slice(col("vec"), 1, 16).as("vec"))
      val isQ = col("vec_id") < 8
      val fullK = SimilarityOps.bruteForceTopK(vecs, vecs.filter(isQ), "vec_id", "vec", k = 5)
      val trK = SimilarityOps.bruteForceTopK(tr, tr.filter(isQ), "vec_id", "vec", k = 5)
      val hits = fullK.select(col("query_id"), col("neighbor_id"))
        .join(trK.select(col("query_id"), col("neighbor_id")),
          Seq("query_id", "neighbor_id"), "left_semi")
        .groupBy("query_id").agg(count(lit(1)).as("n_overlap"))
      fullK.select("query_id").distinct()
        .join(hits, Seq("query_id"), "left")
        .na.fill(0L, Seq("n_overlap"))
        .select(col("query_id"), col("n_overlap").cast("bigint").as("n_overlap"),
          (col("n_overlap").cast("double") / 5.0).as("recall16"))
        .orderBy("query_id")
    }),
    "vec_centroid_drift" -> ((s, d) => {
      // embedding distribution monitoring: per label, L2 distance
      // between two generations' centroids (vec_id parity split).
      // Per-position sums are BINARY-quantized integers (×2³⁰, floor —
      // power-of-two scaling is an exact double op, so there is no
      // decimal rounding boundary for the engines to disagree on; a
      // decimal(28,12) quantization hit a literal half-way case at
      // sf0.01 where Spark rounds HALF_UP and DuckDB half-even);
      // the squared-diff sum folds in POSITION ORDER (sequential — a
      // parallel double SUM would be order-nondeterministic); the corpus
      // shuffles once into (label, pos) cells.
      val pe = TP(s, d, "embeddings")
        .select(col("label").cast("long").as("label"), (col("vec_id") % 2).as("gen"),
          posexplode(VectorFunctions.asDouble(col("embedding"))).as(Seq("pos", "x")))
      val S = 1073741824.0 // 2^30
      val xq = floor(col("x") * lit(S)).cast("long")
      val cells = pe.groupBy("label", "pos")
        .agg(
          sum(when(col("gen") === 0, xq)).as("sa"),
          sum(when(col("gen") === 0, 1L).otherwise(0L)).as("na"),
          sum(when(col("gen") === 1, xq)).as("sb"),
          sum(when(col("gen") === 1, 1L).otherwise(0L)).as("nb"))
        .withColumn("dd",
          col("sa").cast("double") / (col("na").cast("double") * lit(S)) -
            col("sb").cast("double") / (col("nb").cast("double") * lit(S)))
      cells.groupBy("label")
        .agg(sort_array(collect_list(struct(col("pos"), col("dd")))).as("arr"),
          max("na").as("n_a"), max("nb").as("n_b"))
        .select(col("label"), col("n_a"), col("n_b"),
          expr("sqrt(aggregate(arr, cast(0.0 as double), (a, p) -> a + p.dd * p.dd))")
            .as("l2_drift"))
        .orderBy("label")
    }),
    "vec_knn_eval" -> ((s, d) => {
      // k-NN classifier eval: each probe's label predicted by majority
      // vote of its 5 exact nearest neighbors (the brute-force cosine
      // contract; vote ties break to the smaller label), reported as
      // per-true-label accuracy — the embedding-quality gate (labels
      // cluster ⇔ accuracy high). Probes are an id-prefix-bounded
      // deterministic slice (an eval set is FIXED-SIZE — it does not
      // grow with the corpus) and ride broadcast; the corpus never
      // self-joins.
      val vecs = TP(s, d, "embeddings")
        .select(col("vec_id"), col("label").cast("long").as("label"),
          VectorFunctions.asDouble(col("embedding")).as("vec"))
        .transform(Ckpt.lazyCkpt) // ranking + two label joins read it
      val probes = vecs.filter(col("vec_id") < 32)
      // label lookups join the corpus-sized map against the TINY knn /
      // pred sides — no hint, AQE broadcasts the small side (the id→label
      // map itself must never be broadcast at scale)
      val knn = SimilarityOps.bruteForceTopK(vecs, probes, "vec_id", "vec", k = 5)
        .join(vecs.select(col("vec_id").as("neighbor_id"),
          col("label").as("nbr_label")), "neighbor_id")
      val wv = Window.partitionBy("query_id")
        .orderBy(col("n_votes").desc, col("nbr_label"))
      val pred = knn.groupBy("query_id", "nbr_label")
        .agg(count(lit(1)).as("n_votes"))
        .withColumn("rk", row_number().over(wv))
        .filter(col("rk") === 1)
        .select(col("query_id"), col("nbr_label").as("pred"))
      pred
        .join(probes.select(col("vec_id").as("query_id"), col("label")), "query_id")
        .groupBy("label")
        .agg(count(lit(1)).as("n_probes"),
          sum(when(col("pred") === col("label"), 1L).otherwise(0L)).as("n_correct"))
        .withColumn("acc", col("n_correct").cast("double") / col("n_probes").cast("double"))
        .orderBy("label")
    }),
    "ann_ivf_sweep" -> ((s, d) => {
      // probe-fraction planning sweep for the IVF index: recall-vs-
      // brute-force at probe fractions {1/16, 1/8, 1/4, 1/2} of the
      // √n-adaptive cell count (the ann_ivf sizing) must be MONOTONE
      // non-decreasing and reach ≥ 0.8 at 1/2 — the scan-fraction knob a
      // 100 TB ANN deployment tunes before committing an index.
      // Driver-checked as invariants-as-data (cell assignment is
      // engine-side, like ann_lsh/ann_ivf).
      val vecs = embeddings(s, d)
        .transform(Ckpt.eagerCkpt) // 5 rankings traverse it
      val queries = AnnRecall.queries(vecs)
      val k = AnnRecall.k
      val nCells = math.max(4, math.sqrt(vecs.count().toDouble).toInt)
      val bf = AnnRecall.exact(vecs, queries)
        .transform(Ckpt.eagerCkpt) // joined against every sweep point
      // train + assign ONCE: centroids and corpus cell assignment do not
      // depend on nProbe, so the sweep's four points share one index
      // (previously each point re-trained and re-assigned — 4× the
      // corpus-side work for identical cells; guide §1.2 step 1)
      val cents = SimilarityOps.trainCentroids(vecs, "vec_id", "vec", nCells, iters = 4)
      val assigned = SimilarityOps.ivfAssign(vecs, "vec_id", "vec", cents)
        .transform(Ckpt.eagerCkpt) // 4 probe points traverse it
      // the four sweep points as one 4-row frame via union
      val rows = Seq(16, 8, 4, 2).zipWithIndex.map { case (denom, i) =>
        val ivf = SimilarityOps.ivfProbe(assigned, queries, "vec_id", "vec", cents,
          k, nProbe = math.max(1, nCells / denom))
          .select("query_id", "neighbor_id")
        bf.join(ivf, Seq("query_id", "neighbor_id"), "left_semi")
          .agg(lit(i + 1).as("nprobe"), AnnRecall.recall(count(lit(1))).as("recall"))
      }.reduce(_.unionByName(_))
      val arr = rows.agg(sort_array(collect_list(struct(col("nprobe"), col("recall")))).as("a"))
      arr.select(
        lit(8L).as("n_queries"),
        expr("""aggregate(a, named_struct('ok', true, 'prev', cast(-1.0 as double)),
            (acc, x) -> named_struct('ok', acc.ok and x.recall >= acc.prev, 'prev', x.recall),
            acc -> acc.ok)""").as("monotone_ok"),
        expr("element_at(a, 4).recall >= 0.8").as("recall8_ok"))
    }),
    "vec_matryoshka_curve" -> ((s, d) => {
      // recall-vs-dimension curve: top-5 overlap against the full-dim
      // ranking at truncated dims {8, 16, 32, 64} — unlike the IVF
      // sweep this is EXACT SQL-replayable math (truncated cosine is
      // deterministic), so every point is oracle-checked, and dim=64
      // must be a perfect 1.0. The dimension-budget planning curve for
      // a Matryoshka-trained embedding fleet.
      val vecs = embeddings(s, d)
        .transform(Ckpt.eagerCkpt) // 5 rankings traverse it
      val fullK = AnnRecall.exact(vecs, AnnRecall.queries(vecs))
        .transform(Ckpt.eagerCkpt) // joined against every curve point
      Seq(8, 16, 32, 64).map { dim =>
        val tr = vecs.select(col("vec_id"), slice(col("vec"), 1, dim).as("vec"))
        val trK = AnnRecall.exact(tr, AnnRecall.queries(tr))
        fullK.join(trK, Seq("query_id", "neighbor_id"), "left_semi")
          .agg(lit(dim).as("dim"), count(lit(1)).cast("bigint").as("n_overlap"),
            AnnRecall.recall(count(lit(1))).as("recall"))
      }.reduce(_.unionByName(_))
        .orderBy("dim")
    }),
    "ann_ivfpq" -> ((s, d) => {
      // FULL IVF-PQ (the FAISS production layout): coarse cells choose
      // WHICH corpus slice each query reads, residual-PQ codes prune
      // WITHIN the probed cells by ADC, exact rerank on the surviving
      // candidates only — three nested scan-fraction knobs
      // (nProbe/nCells × nCandidates × k). Driver-checked by the ann_*
      // recall-vs-brute-force invariant.
      val vecs = embeddings(s, d)
      val queries = AnnRecall.queries(vecs)
      // candidate budget = corpus/4 inside a 5/8-probed index (the two
      // multiplied scan fractions); recall bar 0.6 = the ann_pq_adc
      // precedent (PQ at 16 codes/subspace is deliberately lossy)
      val n = vecs.count()
      // measured recall@5 0.85/0.85 at sf0.001/0.01 (deterministic) with
      // 16 subspaces of 4 dims (finer residual quantization at the same
      // 16-code budget) and 5 of 8 cells probed — bar 0.6 with margin
      val ivfpq = SimilarityOps.ivfPqRerankTopK(vecs, queries, "vec_id", "vec", AnnRecall.k,
          nCells = 8, nProbe = 5, nCandidates = math.max(64, (n / 4).toInt),
          subspaces = 16, codes = 16, iters = 4)
      AnnRecall.check(AnnRecall.exact(vecs, queries), ivfpq, 0.6)
    }),
    "ann_mips" -> ((s, d) => {
      // maximum-inner-product search: the EXACT brute-force MIPS top-5
      // (argmax x·q over RAW unnormalized vectors — a large-norm item
      // legitimately beats a better-angled small one, which is why
      // cosine ANN can't answer it directly) is the oracled output;
      // the asymmetric norm-augmentation reduction (append
      // √(M²−‖x‖²); Bachrach et al. RecSys'14) turns it into a cosine
      // problem the IVF index answers — its recall vs the exact set
      // rides as an invariant boolean (the ann_lsh convention).
      val vecs = embeddings(s, d)
      val queries = AnnRecall.queries(vecs)
      val k = AnnRecall.k
      val exact = SimilarityOps.bruteForceMipsTopK(vecs, queries, "vec_id", "vec", k)
      // the augmented geometry concentrates low-norm vectors along the
      // extra axis, so MIPS needs a higher probe fraction than plain
      // cosine IVF for the same recall (12/16 = 75% of cells probed —
      // the knob a production deployment trades against scan cost)
      val approx = SimilarityOps.mipsTopK(vecs, queries, "vec_id", "vec", k,
        nCells = 16, nProbe = 12)
      val recall = exact.select("query_id", "neighbor_id")
        .join(approx.select("query_id", "neighbor_id"),
          Seq("query_id", "neighbor_id"), "left_semi")
        .agg(count(lit(1)).as("hits"))
      exact.crossJoin(broadcast(recall))
        .select(col("query_id"), col("rank"), col("neighbor_id"), col("dot"),
          AnnRecall.ok(0.8).as("mips_recall_ok"))
        .orderBy("query_id", "rank")
    }),
    "vec_bitext_mining" -> ((s, d) => {
      // margin-based bitext mining (Artetxe & Schwenk ACL'19): mine
      // cross-side pairs (side = label % 2 — the two-"language" split)
      // whose cosine is high RELATIVE to both endpoints' top-4
      // neighborhoods — the LASER/CCMatrix parallel-corpus criterion
      // that plain cosine thresholds can't express (hub suppression).
      // Exact cosines as DECIMAL(9,6), exact decimal neighborhood
      // means, one fixed double ratio.
      val vecs = TP(s, d, "embeddings").select(col("vec_id"),
        VectorFunctions.asDouble(col("embedding")).as("vec"),
        (col("label") % 2).as("side"))
      SimilarityOps.bitextMarginPairs(vecs, "vec_id", "vec", "side",
          k = 4, threshold = 1.1)
        .orderBy("x_id", "y_id")
    }),
    "vec_binary_quant" -> ((s, d) => {
      // 1-bit quantization retrieval eval (the 64×-compression tier
      // below int8/PQ): sign-bit hamming ranking + the cos(π·h/d)
      // angle estimator, judged against exact cosine — per query, the
      // hamming top-5's recall of the cosine top-5 and the mean
      // estimator error. Hamming is an exact in-row integer fold;
      // estimator/error round to 6 and errors sum as decimals.
      val vecs = embeddings(s, d)
      SimilarityOps.binaryQuantEval(vecs, AnnRecall.queries(vecs), "vec_id", "vec", AnnRecall.k)
        .orderBy("query_id")
    }),
    "vec_maxsim" -> ((s, d) => {
      // late-interaction multi-vector retrieval (ColBERT MaxSim,
      // Khattab & Zaharia SIGIR'20): score(q, doc) = Σ over the query's
      // token vectors of MAX over the doc's chunk vectors of cosine —
      // token-level matching mean-pooling (vec_meanpool) blurs away.
      // Queries: vec_id < 8 as two 4-token queries (qid = id mod 2,
      // broadcast); docs: the remaining vectors in vec_id mod 50 chunk
      // groups. Per-token maxes fold in a decimal-exact sum (round-6
      // cosines ⇒ exact at 6dp, order-independent), top-3 per query.
      val vecs = embeddings(s, d)
      val q = vecs.filter(col("vec_id") < 8)
        .select(pmod(col("vec_id"), lit(2)).as("qid"), col("vec_id").as("tid"),
          col("vec").as("qv"))
      val docs = vecs.filter(col("vec_id") >= 8)
        .select(pmod(col("vec_id"), lit(50)).as("grp"), col("vec").as("cv"))
      val w = Window.partitionBy("qid").orderBy(col("maxsim").desc, col("grp").asc)
      docs.join(broadcast(q))
        .withColumn("cos", round(VectorFunctions.cosine(col("cv"), col("qv")), 6))
        .groupBy("qid", "grp", "tid").agg(max("cos").as("mx"))
        .groupBy("qid", "grp").agg(dsum(col("mx"), 6).as("maxsim"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3)
        .select("qid", "rank", "grp", "maxsim")
        .orderBy("qid", "rank")
    }),
    "vec_silhouette" -> ((s, d) =>
      // simplified-silhouette cell-quality audit (O(n·k) centroid
      // silhouette): k=8 deterministic centroids (the kmeansStep
      // smallest-id convention), round-6 squared-euclidean two-min fold
      // per vector, per-cell decimal-exact mean of round-6 s values.
      // The audit behind SemDeDup/IVF cell sizing — mean s ≈ 0 says the
      // cells don't separate. Pure broadcast projection + one groupBy.
      ClusterOps.silhouetteReport(TP(s, d, "embeddings"), "vec_id", "embedding", k = 8)),
    "ann_ivfpq_index" -> ((s, d) => {
      // the PERSISTED IVF-PQ index (row 293's query-side operator as
      // catalog tables — FAISS IndexIVFPQ): build lands coded cells +
      // centroids + a one-row codebook table; probe ADC-prunes over
      // the (neighbor_id, cell, codes) columns of the probed cells
      // only, then exact-reranks the surviving candidates. Same
      // parameters and recall bar as ann_ivfpq; probe ≡ the in-query
      // ivfPqRerankTopK is spec-pinned in Round11OpsSpec.
      val vecs = embeddings(s, d)
      val n = vecs.count()
      val idx = VectorIndexOps.buildIvfPqIndex(vecs, "vec_id", "vec",
        "graft_ivfpq_idx", nCells = 8, numBuckets = 4, subspaces = 16, codes = 16)
      val queries = AnnRecall.queries(vecs)
      AnnRecall.check(AnnRecall.exact(vecs, queries),
        VectorIndexOps.probeIvfPq(s, queries, "vec_id", "vec", idx, AnnRecall.k,
          nProbe = 5, nCandidates = math.max(64, (n / 4).toInt)), 0.6)
    }),
    "ann_ivfpq_drift" -> ((s, d) =>
      // IVF-PQ index drift monitor (the rebuild trigger for row 355's
      // frozen centroids + frozen codebook — rebuildIvfPqIndex is the
      // escape hatch it arms; the SemDeDup monitor of row 331 with a
      // third, PQ-specific signal): (1) assignment-quality drift,
      // (2) cell-occupancy L1 shift in ppm, (3) residual quantization
      // error ratio delta/base — a frozen codebook that no longer spans
      // the residual distribution silently degrades ADC ranking, which
      // no cent_sim signal can see. Oracle replays the report over the
      // _aux_ivfpq_drift_cells dump.
      VectorIndexOps.ivfPqDriftReport(ivfPqDriftCellsDump(s, d))),
    "vec_sq_dim" -> ((s, d) => {
      // per-DIMENSION trained scalar quantization (FAISS SQ8's train/
      // apply split vs row 69's per-vector variant): corpus min/max per
      // dim (64 bounded rows collected — the trainCentroids contract),
      // codes/dequant against the trained grid, per-vector max and
      // fold-ordered mean |err|. Dims the corpus holds constant map to
      // code 0 (the quantize8 convention).
      val vecs = embeddings(s, d)
      val stats = vecs.select(posexplode(col("vec")).as(Seq("i", "x")))
        .groupBy("i").agg(min("x").as("lo"), max("x").as("hi"))
        .orderBy("i").collect() // dim rows — bounded by construction
      val loA = typedLit(stats.map(_.getDouble(1)).toIndexedSeq)
      val hiA = typedLit(stats.map(_.getDouble(2)).toIndexedSeq)
      val codes = transform(col("vec"), (x, i) => {
        val lo = element_at(loA, i + 1); val hi = element_at(hiA, i + 1)
        when(hi - lo === 0d, 0).otherwise(round((x - lo) * 255d / (hi - lo)).cast("int"))
      })
      val errs = transform(col("vec"), (x, i) => {
        val lo = element_at(loA, i + 1); val hi = element_at(hiA, i + 1)
        abs(x - when(hi - lo === 0d, lo)
          .otherwise(lo + when(hi - lo === 0d, 0)
            .otherwise(round((x - lo) * 255d / (hi - lo)).cast("int")).cast("double")
            * (hi - lo) / 255d))
      })
      vecs.select(col("vec_id"), codes.as("codes"), errs.as("errs"))
        .select(col("vec_id"),
          array_max(col("errs")).as("max_abs_err"),
          (aggregate(col("errs"), lit(0.0), (a, e) => a + e)
            / size(col("errs")).cast("double")).as("mean_abs_err"),
          element_at(col("codes"), 1).as("code_d1"))
        .orderBy("vec_id")
    }),
    "vec_purity" -> ((s, d) => {
      // cluster-label purity of a deterministic 5-seed nearest-seed
      // partition over the embedding table (the clustering-quality
      // audit beside silhouette (348) and centroid affinity (195) —
      // purity is the INTEGER one: majority-label mass per cell, no
      // logs, no float verdicts). Seeds = first 5 vectors by
      // md5('seed:'||id) — replayable in SQL, unlike a Lloyd-trained
      // geometry; assignment = argmax round-6 cosine, ties to the
      // LOWER seed index (the ann tie convention).
      val vecs = TP(s, d, "embeddings")
        .select(col("vec_id"), VectorFunctions.asDouble(col("embedding")).as("vec"),
          col("label"))
      val seeds = vecs
        .orderBy(conv(substring(md5(concat(lit("seed:"), col("vec_id"))), 1, 8), 16, 10)
          .cast("long"), col("vec_id"))
        .limit(5).select("vec_id", "vec").collect() // 5 rows — bounded
        .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      import graft.functions.VectorFunctions.dot
      val nrm = sqrt(dot(col("vec"), col("vec")))
      val scores = array(seeds.zipWithIndex.map { case ((_, sv), i) =>
        val sl = typedLit(sv.toSeq)
        val sn = math.sqrt(sv.map(x => x * x).sum)
        struct(round(dot(col("vec"), sl) / (nrm * lit(sn)), 6).as("s"),
          lit(4 - i).as("t"))
      }.toIndexedSeq: _*)
      val assigned = vecs.select(col("vec_id"), col("label"),
        (lit(4) - array_max(scores).getField("t")).as("cell"))
      val cellLab = assigned.groupBy("cell", "label")
        .agg(count(lit(1)).cast("long").as("n"))
      val w = Window.partitionBy("cell").orderBy(col("n").desc, col("label"))
      cellLab
        .withColumn("rk", row_number().over(w))
        .groupBy("cell")
        .agg(sum("n").cast("long").as("n_members"),
          max(when(col("rk") === 1, col("label"))).as("majority_label"),
          max(when(col("rk") === 1, col("n"))).cast("long").as("n_majority"))
        .withColumn("purity_ppm", expr("n_majority * 1000000L div n_members"))
        .orderBy("cell")
    })
  )
}
