package graft.operators

import graft.functions.VectorFunctions._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * Scale posture: brute force is the exact baseline — `broadcast(queries)
  * × corpus` so the corpus scan stays partition-local (no corpus shuffle,
  * linear in corpus size, parallel across partitions). The LSH variant
  * buckets both sides with random-hyperplane signatures and probes only
  * matching buckets: corpus shuffles once on bucket id, queries broadcast;
  * at 100 TB this is the path — candidate count per query is bucket-sized,
  * not corpus-sized.
  */
object SimilarityOps {

  /** Exact top-k cosine neighbors for each query vector (brute force).
    *
    * @param corpus   (idCol, vecCol) table — arbitrarily large
    * @param queries  small table of query vectors — broadcast
    */
  def bruteForceTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      excludeSelf: Boolean = true
  ): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("q_vec"))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("c_vec"))
    val scored = c
      .join(broadcast(q), if (excludeSelf) col("neighbor_id") =!= col("query_id") else lit(true))
      .withColumn("cosine", round(cosine(col("q_vec"), col("c_vec")), 6))
    val w = Window.partitionBy("query_id").orderBy(col("cosine").desc, col("neighbor_id").asc)
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id", "cosine")
  }

  /** LSH-bucketed ANN: random-hyperplane signature with `nBits` bits and
    * `nTables` independent tables (ORed probes → higher recall). Corpus is
    * shuffled once on (table, bucket); queries broadcast. Exact cosine is
    * computed only inside matching buckets, then global top-k per query.
    *
    * `multiProbe = true` additionally probes, PER QUERY, every bucket at
    * Hamming distance 1 from the query's own (each hyperplane bit
    * flipped once) — the standard multi-probe LSH trade: per-table hit
    * probability rises from p^b to p^b + b·p^(b-1)(1-p), so the same
    * recall needs FEWER tables, which at 100 TB means fewer corpus
    * replicas in the index shuffle (probing is query-side only and
    * queries broadcast — the corpus side is untouched).
    */
  def lshTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      nBits: Int = 6,
      nTables: Int = 8,
      excludeSelf: Boolean = true,
      multiProbe: Boolean = false
  ): DataFrame = {
    def bucketed(df: DataFrame, id: String, vec: String, probe: Boolean): DataFrame =
      df.select(
        // per-table buckets computed ONCE into an aliased array (multi-
        // referenced alias → CollapseProject won't re-inline the kernel)
        col(idCol).as(id),
        col(vecCol).as(vec),
        array((0 until nTables).map(t => hyperplaneBucket(col(vecCol), nBits, seed = t)): _*).as("bks")
      ).select(
        col(id),
        col(vec),
        explode(array((0 until nTables).flatMap { t =>
          val base = col("bks")(t)
          val probes = base +: (if (probe) (0 until nBits).map(i => base.bitwiseXOR(lit(1 << i))) else Nil)
          probes.map(b => struct(lit(t).as("table_id"), b.as("bucket")))
        }: _*)).as("tb")
      ).select(col(id), col(vec), col("tb.table_id"), col("tb.bucket"))

    val c = bucketed(corpus, "neighbor_id", "c_vec", probe = false)
    val q = bucketed(queries, "query_id", "q_vec", probe = multiProbe)
    val scored = c
      .join(broadcast(q), Seq("table_id", "bucket"))
      .filter(if (excludeSelf) col("neighbor_id") =!= col("query_id") else lit(true))
      .select(col("query_id"), col("neighbor_id"), round(cosine(col("q_vec"), col("c_vec")), 6).as("cosine"))
      .dropDuplicates("query_id", "neighbor_id")
    val w = Window.partitionBy("query_id").orderBy(col("cosine").desc, col("neighbor_id").asc)
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id", "cosine")
  }

  // ----- IVF (inverted-file) ANN — the coarse-quantization scale path -----

  /** Per-row array of (score, cell) structs against the trained centroids:
    * nCells native dot products, pure projection (no shuffle, no broadcast
    * state — centroids ride in the plan as literals; they are tiny by
    * construction: nCells × dim doubles).
    */
  private def cellScores(vec: Column, cents: Array[Array[Double]]): Column =
    array(cents.zipWithIndex.toIndexedSeq.map { case (ct, i) =>
      struct(dot(vec, typedLit(ct.toSeq)).as("s"), lit(i).as("c"))
    }: _*)

  /** Nearest-centroid id (argmax dot). `array_max` over (score, cell)
    * structs compares score first then cell — deterministic ties. */
  def assignCell(vec: Column, cents: Array[Array[Double]]): Column =
    array_max(cellScores(vec, cents)).getField("c")

  /** The `nProbe` nearest cells, best first (query-side fan-out). */
  def probeCells(vec: Column, cents: Array[Array[Double]], nProbe: Int): Column =
    transform(slice(sort_array(cellScores(vec, cents), asc = false), 1, nProbe), x => x.getField("c"))

  /** Spherical k-means centroids for IVF — the FAISS train/add split:
    * ONE bounded collect pulls the hash-ordered training sample (at most
    * `trainCap` unit vectors — deterministic and size-stable regardless
    * of corpus size), Lloyd then iterates in driver memory, and only the
    * corpus-sized operations (final cell assignment, query probing)
    * stay distributed projections. Round 9: the previous shape ran each
    * Lloyd ASSIGNMENT pass through Catalyst, which re-generated and
    * re-JITed an nCells×dim literal kernel per pass — measured as the
    * dominant cost of `ann_ivf` at sf0.1 (~10s of JIT compilation for a
    * 2000-row corpus, the only >1.5× r7→r8 bench mover); driver Lloyd
    * on the capped sample is ≤ trainCap·dim·nCells·iters flops with
    * zero codegen, and the trained centroids are equivalent (same init,
    * same argmax-tie convention as the Spark-side `assignCell` kernel,
    * float summation order differs only within a pass's mean).
    */
  def trainCentroids(
      vectors: DataFrame,
      idCol: String,
      vecCol: String,
      nCells: Int,
      iters: Int = 2,
      trainCap: Int = 100000
  ): Array[Array[Double]] = {
    val u = unitVectors(vectors, idCol, vecCol)
    // TakeOrdered returns min(partitionRows, cap) rows from EVERY
    // partition, so the naive orderBy+limit collect is cap × partitions
    // at the driver — observed 64 × 17 MiB > maxResultSize on a 2M-row
    // probe, and gigabytes on a real cluster. A deterministic hash gate
    // first thins the corpus to ≈ 4×cap rows, bounding the collect by
    // the sample size instead of the partition count. For n ≤ 4×cap the
    // gate keeps every row, so the sample — and every centroid, cell
    // assignment, and aux dump downstream — is bit-identical to the
    // ungated selection at all oracle scales (sf ≤ 0.1).
    // Gate from a column-pruned id-only count: unitVectors is a pure
    // projection (row-preserving), so this is the SAME n as counting
    // `u` — without running the per-row normalize math twice (the
    // round-11 ANN-family bench regression: every centroid train paid
    // a full unit-vector pass just to size the gate).
    val gate = math.max(1L, vectors.select(col(idCol)).count() / (4L * trainCap))
    val gated = if (gate == 1L) u
      else u.filter(pmod(xxhash64(col("id"), lit(2)), lit(gate)) === 0)
    val sample = gated
      .orderBy(xxhash64(col("id")))
      .limit(trainCap)
      .select(col("unit"), xxhash64(col("id"), lit(1)).as("h2"))
      .collect()
      .map(r => (r.getSeq[Double](0).toArray, r.getLong(1)))
    var cents: Array[Array[Double]] = sample.sortBy(_._2).take(nCells).map(_._1)
    val dim = cents.head.length
    val vecs = sample.map(_._1)
    for (_ <- 0 until iters) {
      val sums = Array.fill(nCells)(new Array[Double](dim))
      val counts = new Array[Long](nCells)
      vecs.foreach { u =>
        // argmax dot; ties pick the HIGHER cell index — the array_max
        // over (score, cell) structs convention of the Spark-side
        // assignCell kernel, so train- and index-time cells agree
        var best = 0
        var bestS = Double.NegativeInfinity
        var c = 0
        while (c < nCells) {
          var s = 0.0
          var i = 0
          val ct = cents(c)
          while (i < dim) { s += u(i) * ct(i); i += 1 }
          if (s >= bestS) { bestS = s; best = c }
          c += 1
        }
        val acc = sums(best)
        var i = 0
        while (i < dim) { acc(i) += u(i); i += 1 }
        counts(best) += 1
      }
      cents = cents.zipWithIndex.map { case (old, cIx) =>
        if (counts(cIx) == 0) old // empty cells keep their old centroid
        else {
          val m = sums(cIx).map(_ / counts(cIx))
          val n = math.sqrt(m.map(x => x * x).sum)
          if (n > 0) m.map(_ / n) else old
        }
      }
    }
    cents
  }

  /** IVF ANN: corpus vectors are assigned to their nearest centroid cell
    * (pure projection — the corpus never shuffles for indexing); each query
    * probes its `nProbe` nearest cells and broadcasts; exact dot products
    * run only inside probed cells. Scan fraction ≈ nProbe/nCells of the
    * corpus per query batch — the knob a 100 TB deployment turns.
    */
  def ivfTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      nCells: Int = 16,
      nProbe: Int = 4,
      iters: Int = 2,
      excludeSelf: Boolean = true
  ): DataFrame = {
    val cents = trainCentroids(corpus, idCol, vecCol, nCells, iters)
    val c = ivfAssign(corpus, idCol, vecCol, cents)
    ivfProbe(c, queries, idCol, vecCol, cents, k, nProbe, excludeSelf)
  }

  /** The index-build half of [[ivfTopK]]: corpus unit vectors with their
    * assigned cell (pure projection). Split out so a probe-parameter
    * SWEEP trains and assigns ONCE — the centroids and cell assignment
    * do not depend on nProbe, so re-deriving them per sweep point
    * (previously 4 trainings + 4 corpus assignment passes in
    * `ann_ivf_sweep`) is pure waste. */
  def ivfAssign(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      cents: Array[Array[Double]]
  ): DataFrame =
    unitVectors(corpus, idCol, vecCol)
      .select(col("id").as("neighbor_id"), col("unit").as("c_vec"))
      .withColumn("cell", assignCell(col("c_vec"), cents))

  /** The probe half of [[ivfTopK]] over a prebuilt [[ivfAssign]] frame. */
  def ivfProbe(
      assigned: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      cents: Array[Array[Double]],
      k: Int,
      nProbe: Int,
      excludeSelf: Boolean = true
  ): DataFrame = {
    val q = unitVectors(queries, idCol, vecCol)
      .select(col("id").as("query_id"), col("unit").as("q_vec"))
      .withColumn("cell", explode(probeCells(col("q_vec"), cents, nProbe)))
    val scored = assigned
      .join(broadcast(q), Seq("cell"))
      .filter(if (excludeSelf) col("neighbor_id") =!= col("query_id") else lit(true))
      .select(col("query_id"), col("neighbor_id"), round(dot(col("q_vec"), col("c_vec")), 6).as("cosine"))
      .dropDuplicates("query_id", "neighbor_id")
    val w = Window.partitionBy("query_id").orderBy(col("cosine").desc, col("neighbor_id").asc)
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id", "cosine")
  }

  /** Exact maximum-inner-product top-k (brute force): MIPS is the
    * retrieval primitive recommender / reward models actually need —
    * argmax x·q, NOT cosine; a large-norm item can beat a better-angled
    * small one, so the two rankings genuinely differ on unnormalized
    * embeddings. Same shape as [[bruteForceTopK]] (corpus scan ⋈
    * broadcast queries, per-query window top-k).
    */
  def bruteForceMipsTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      excludeSelf: Boolean = true
  ): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("q_vec"))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("c_vec"))
    val scored = c
      .join(broadcast(q), if (excludeSelf) col("neighbor_id") =!= col("query_id") else lit(true))
      .withColumn("dot", round(graft.functions.VectorFunctions.dot(col("q_vec"), col("c_vec")), 6))
    val w = Window.partitionBy("query_id").orderBy(col("dot").desc, col("neighbor_id").asc)
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id", "dot")
  }

  /** Approximate MIPS via the asymmetric norm-augmentation reduction
    * (Bachrach et al. RecSys'14 / Neyshabur & Srebro ICML'15): append
    * one dimension — corpus x' = [x, √(M²−‖x‖²)] with M = max corpus
    * norm (every x' then has norm exactly M), query q' = [q, 0] — and
    * cos(x', q') = x·q / (M‖q‖) is strictly monotone in the inner
    * product, so ANY cosine index answers MIPS. Here the transformed
    * vectors feed the spherical-k-means IVF ([[ivfTopK]]); returned
    * candidates are re-scored by the EXACT dot over the original
    * vectors. Shape: one 1-row max-norm agg broadcast back, one
    * augmentation projection, then the IVF plan — the corpus is never
    * collected and never joined all-pairs.
    */
  def mipsTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      nCells: Int = 16,
      nProbe: Int = 8,
      excludeSelf: Boolean = true
  ): DataFrame = {
    import graft.functions.VectorFunctions
    val c0 = corpus.select(col(idCol).as("id"), col(vecCol).as("vec"),
      VectorFunctions.norm(col(vecCol)).as("nrm"))
    val mRow = c0.agg(max(col("nrm")).as("m_norm"))
    val caug = c0.crossJoin(broadcast(mRow)).select(col("id"),
      concat(col("vec"),
        array(sqrt(greatest(lit(0.0), col("m_norm") * col("m_norm") - col("nrm") * col("nrm")))))
        .as("avec"))
    val qaug = queries.select(col(idCol).as("id"), concat(col(vecCol), array(lit(0.0))).as("avec"))
    val cand = ivfTopK(caug, qaug, "id", "avec", k, nCells, nProbe,
        iters = 4, excludeSelf = excludeSelf)
      .select(col("query_id"), col("neighbor_id"))
    cand
      .join(broadcast(queries.select(col(idCol).as("query_id"), col(vecCol).as("q_vec"))),
        Seq("query_id"))
      .join(corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("c_vec")), Seq("neighbor_id"))
      .withColumn("dot", round(VectorFunctions.dot(col("q_vec"), col("c_vec")), 6))
      .select("query_id", "neighbor_id", "dot")
  }

  /** Margin-based bitext mining (Artetxe & Schwenk, ACL'19): mine
    * cross-side pairs (x from side 0, y from side ≠ 0) whose cosine is
    * high RELATIVE to each vector's own neighborhood —
    * margin(x,y) = cos(x,y) / ((mean top-k cos of x) + (mean top-k cos
    * of y)) / 2 — the ratio criterion that suppresses hub vectors plain
    * cosine thresholds mis-mine. This is the parallel-corpus mining
    * step of a multilingual pipeline (LASER/CCMatrix shape).
    *
    * Exactness: cosines round to 6 and ride as DECIMAL(9,6), so the
    * top-k neighborhood means are exact decimal sums (order-independent)
    * and the margin is one fixed double expression — fully
    * oracle-replayable. Scale: this exact form scores ALL cross pairs
    * (one broadcast/shuffle join) — the gate-scale truth; a web-scale
    * deployment generates candidates with the ANN family first and
    * feeds them to the same margin arithmetic.
    */
  def bitextMarginPairs(
      vecs: DataFrame,
      idCol: String,
      vecCol: String,
      sideCol: String,
      k: Int = 4,
      threshold: Double = 1.05
  ): DataFrame = {
    import graft.functions.VectorFunctions
    val u = vecs.select(col(idCol).as("id"), col(sideCol).as("side"),
        VectorFunctions.unitNormalize(col(vecCol)).as("unit"))
      .transform(Ckpt.lazyCkpt) // consumed by both sides
    val xs = u.filter(col("side") === 0).select(col("id").as("x_id"), col("unit").as("xv"))
    val ys = u.filter(col("side") =!= 0).select(col("id").as("y_id"), col("unit").as("yv"))
    // The exact-baseline contract is quadratic (mutual-kNN margins need
    // the full x×y cosine table; the scale path is the ANN family), but
    // BOTH sides are corpus-sized, so the pair generation carries NO
    // broadcast hint: Spark picks BroadcastNestedLoop itself while a
    // side fits the size-guarded threshold, and a partitioned cartesian
    // beyond it — slow is acceptable for a baseline, an OOM is not.
    val cross = xs.join(ys)
      .select(col("x_id"), col("y_id"),
        round(VectorFunctions.dot(col("xv"), col("yv")), 6).cast("decimal(9,6)").as("cos"))
      .transform(Ckpt.lazyCkpt) // consumed 3× (x-means, y-means, pairs)
    def kMean(keyCol: String, otherCol: String, out: String) = {
      val w = Window.partitionBy(keyCol).orderBy(col("cos").desc, col(otherCol).asc)
      cross.withColumn("r", row_number().over(w)).filter(col("r") <= k)
        .groupBy(keyCol)
        .agg((sum("cos").cast("decimal(18,6)").cast("double") / k).as(out))
    }
    cross
      .join(kMean("x_id", "y_id", "mx"), Seq("x_id"))
      .join(kMean("y_id", "x_id", "my"), Seq("y_id"))
      .withColumn("margin", col("cos").cast("double") / ((col("mx") + col("my")) / 2))
      .filter(col("margin") >= threshold)
      .select(col("x_id"), col("y_id"), round(col("margin"), 6).as("margin"))
  }

  /** 1-bit (sign) quantization retrieval eval: the 64×-compression
    * regime below int8 (row 69) and PQ (row 220) — store only sign
    * bits, rank by hamming distance, estimate the angle back via
    * cos(π·h/d). Emits, per query: how many of the exact cosine top-k
    * the hamming top-k recovers, and the mean |cos(π·h/d) − cosine|
    * estimator error over its hamming top-k — the storage-vs-recall
    * evidence for choosing a quantization tier. Everything is exact:
    * hamming is an integer in-row fold over the pair, the estimator
    * rounds to 6 (cos() 1-ulp cross-engine skew absorbed at ≤ n·k
    * sites), errors sum as DECIMAL.
    */
  def binaryQuantEval(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int = 5
  ): DataFrame = {
    import graft.functions.VectorFunctions
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("q_vec"))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("c_vec"))
    val dim = 64
    val scored = c.join(broadcast(q), col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        expr("size(filter(zip_with(q_vec, c_vec, (a, b) -> (a > 0d) != (b > 0d)), x -> x))")
          .cast("int").as("hamming"),
        round(VectorFunctions.cosine(col("q_vec"), col("c_vec")), 6).as("cosine"))
    val wh = Window.partitionBy("query_id").orderBy(col("hamming").asc, col("neighbor_id").asc)
    val hTop = scored.withColumn("r", row_number().over(wh)).filter(col("r") <= k)
      .withColumn("est",
        round(cos(lit(3.141592653589793e0) * col("hamming") / dim), 6))
      .withColumn("err", round(abs(col("est") - col("cosine")), 6).cast("decimal(9,6)"))
    val wc = Window.partitionBy("query_id").orderBy(col("cosine").desc, col("neighbor_id").asc)
    val cTop = scored.withColumn("r", row_number().over(wc)).filter(col("r") <= k)
      .select(col("query_id"), col("neighbor_id"))
    val hits = hTop.select("query_id", "neighbor_id")
      .join(cTop, Seq("query_id", "neighbor_id"), "left_semi")
      .groupBy("query_id").agg(count(lit(1)).as("hits"))
    hTop.groupBy("query_id")
      .agg((sum("err").cast("decimal(18,6)").cast("double") / k).as("mean_est_err"))
      .join(hits, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("hits"), lit(0L)).as("hits"), col("mean_est_err"))
  }

  /** [[ivfTopK]] with the standard √n sizing rule applied for the
    * caller: nCells = ⌊√n⌋ (≥4), nProbe = nCells·probeFraction (≥2),
    * 4 Lloyd iterations. Costs one corpus `count()` (parquet metadata —
    * no scan). Small corpora are where fixed sizing fails — 500 vectors
    * over 16 cells gives noisy centroids and recall ~0.72; the √n rule
    * measured recall@5 ≥ 0.82 on every driver SF (0.825/0.95/0.85 at
    * n=500/500/2000). probeFraction is the scan-fraction knob: 0.5 buys
    * the recall floor the driver invariant pins; a 100 TB deployment
    * turns it down (nProbe/nCells of the corpus is read per query batch)
    * and accepts its own recall target.
    */
  def ivfTopKAuto(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      probeFraction: Double = 0.5,
      excludeSelf: Boolean = true
  ): DataFrame = {
    val n = corpus.count()
    val nCells = math.max(4, math.sqrt(n.toDouble).toInt)
    val nProbe = math.max(2, (nCells * probeFraction).toInt)
    ivfTopK(corpus, queries, idCol, vecCol, k, nCells, nProbe, iters = 4, excludeSelf)
  }

  /** Deterministic mean pooling: element-wise mean of each group's
    * vectors (chunk embeddings → one document embedding). Per-position
    * sums are DECIMAL-exact — order-independent, so the pooled embedding
    * is REPLAY-STABLE (a plain double sum differs in last bits with
    * partition merge order, and a doc embedding on a dedup threshold
    * boundary must not flip between runs); the single division happens
    * in double with a fixed operation order.
    *
    * Shape: posexplode → groupBy (group, pos) with map-side partial
    * aggregation (a group with millions of chunks still contributes one
    * row per position per map partition) → one dim-bounded collect_list
    * per group reassembled in position order.
    */
  def meanPool(
      vectors: DataFrame,
      groupCol: String,
      vecCol: String,
      scale: Int = 12
  ): DataFrame = {
    val pe = vectors.select(col(groupCol).as("grp"),
      posexplode(col(vecCol)).as(Seq("pos", "x")))
    val xd = col("x").cast("double").cast(s"decimal(28,$scale)")
    pe.groupBy("grp", "pos")
      .agg(count(lit(1)).as("n"), sum(xd).cast(s"decimal(38,$scale)").cast("double").as("sx"))
      .withColumn("m", col("sx") / col("n").cast("double"))
      .groupBy("grp")
      .agg(
        transform(array_sort(collect_list(struct(col("pos"), col("m")))), p => p.getField("m"))
          .as("mean_vec"),
        max("n").as("n_vectors"))
  }

  /** Unit-normalized (id, unit) projection: normalize ONCE per row (a
    * native single-pass kernel — the HOF `transform(v, x / norm(v))`
    * shape re-evaluated the norm per ELEMENT after projection collapse,
    * a dim× per-row blowup) so all per-pair work downstream is a single
    * native dot product. */
  private[operators] def unitVectors(vectors: DataFrame, idCol: String, vecCol: String): DataFrame =
    vectors.select(col(idCol).as("id"),
      graft.functions.VectorFunctions.unitNormalize(col(vecCol)).as("unit"))

  /** Embedding near-duplicate pairs blocked by random-hyperplane LSH —
    * the 100 TB path: no self-join, no label/metadata dependence.
    *
    * Plan shape: (1) one scan computing nTables native bucket signatures
    * (on the RAW vectors — hyperplane signs are invariant to positive
    * scaling, so normalization buys nothing here); (2) one shuffle on
    * (table, bucket); (3) pair generation inside collect_list buckets,
    * with the distributed overflow path for oversized buckets (no
    * silently dropped pairs — round-2 advisor finding); (4) distinct
    * candidate edges verified by `cosine` over the ORIGINAL vectors
    * re-attached by id — dot/(‖a‖·‖b‖) in the same operation order as the
    * DuckDB oracle, so a rounded value can never straddle a rounding
    * boundary between engines (pre-normalized per-element division
    * changes the floating-point result). Near-parallel pairs (cosine ≥
    * ~0.99) keep identical sign patterns, so recall at dedup thresholds
    * is effectively total; raise nTables for looser τ.
    */
  def embeddingDupPairsLsh(
      vectors: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      nBits: Int = 12,
      nTables: Int = 4,
      maxBucketSize: Int = 1024
  ): DataFrame = {
    val v = vectors.select(col(idCol).as("id"), col(vecCol).as("vec"))
    val banded = v.select(
      col("id"),
      explode(array((0 until nTables).map { t =>
        struct(lit(t).as("tbl"), hyperplaneBucket(col("vec"), nBits, seed = t).as("bkt"))
      }: _*)).as("tb"))
      .select(col("id"), col("tb.tbl"), col("tb.bkt"))
    val buckets = banded
      .groupBy("tbl", "bkt")
      .agg(sort_array(collect_list(col("id"))).as("ids"))
    val cands = DedupOps.allBucketPairs(buckets, Seq("tbl", "bkt"), "ids", maxBucketSize)
      .select(col("a").as("a_id"), col("b").as("b_id"))
      .distinct()
    cands
      .join(v.select(col("id").as("a_id"), col("vec").as("va")), "a_id")
      .join(v.select(col("id").as("b_id"), col("vec").as("vb")), "b_id")
      .withColumn("cosine", round(cosine(col("va"), col("vb")), 6))
      .filter(col("cosine") >= threshold)
      .select("a_id", "b_id", "cosine")
  }

  /** Embedding near-duplicate pairs: cosine ≥ τ within blocks. Blocks keep
    * pair generation bounded (at scale: use `embeddingDupPairsLsh`; this
    * variant suits an existing cluster label or coarse quantization cell).
    */
  def embeddingDupPairs(
      vectors: DataFrame,
      idCol: String,
      vecCol: String,
      blockCol: Column,
      threshold: Double
  ): DataFrame = {
    // normalize ONCE per row so the per-pair work is a single dot product
    // (norms recomputed per pair tripled the hot-loop cost; the native
    // kernel also keeps the norm out of per-element lambda re-evaluation)
    val v = vectors.select(col(idCol).as("id"),
      graft.functions.VectorFunctions.unitNormalize(col(vecCol)).as("unit"),
      blockCol.as("block"))
    v.as("a")
      .join(v.as("b"), col("a.block") === col("b.block") && col("a.id") < col("b.id"))
      .select(
        col("a.id").as("a_id"),
        col("b.id").as("b_id"),
        round(dot(col("a.unit"), col("b.unit")), 6).as("cosine")
      )
      .filter(col("cosine") >= threshold)
  }

  /** Diversity-preserving subsample: bucket vectors by the sign pattern
    * of their first `signDims` components (a deterministic, engine-
    * portable coarse quantization — 2^signDims cells), then keep at most
    * `perBucket` per cell in seeded md5 order. Uniform sampling keeps
    * the corpus's density profile (dense clusters stay dense); this
    * keeps REGIONS — the cheap version of cluster-balanced sampling a
    * training mix wants when one mode dominates the crawl. The per-cell
    * cap rides CorpusOps.capPerKey's map-side WindowGroupLimit, so a
    * mega-cell never funnels its rows to one reducer; everything else
    * is a projection.
    */
  def diversitySample(
      vectors: DataFrame,
      idCol: String,
      vecCol: String,
      signDims: Int,
      perBucket: Int,
      seed: String
  ): DataFrame = {
    require(signDims >= 1 && signDims <= 20, "signDims in [1,20]")
    val bucket = (0 until signDims)
      .map(i => when(element_at(col(vecCol), i + 1) >= 0d, lit(1 << i)).otherwise(lit(0)))
      .reduce((a, b) => a + b)
    val keyed = vectors
      .select(col(idCol), bucket.cast("int").as("bucket"),
        md5(concat_ws(":", lit(seed), col(idCol).cast("string"))).as("__k"))
    CorpusOps.capPerKey(keyed, "bucket", Seq(col("__k"), col(idCol)), perBucket,
      rankCol = Some("rank"))
      .select(col(idCol), col("bucket"), col("rank").cast("int").as("rank"))
  }

  /** Signed (Rademacher) random projection to `outDims` dimensions:
    * out[j] = Σ_i v[i] · s(i,j), s(i,j) = ±1 from the parity of the
    * first 8 hex chars of md5(seed ":" i ":" j) — the dimensionality-
    * reduction step before a cheaper ANN index or a drift monitor,
    * deterministic on any engine (no RNG, no stored projection matrix;
    * the "matrix" IS the hash, and any engine's md5 re-derives it).
    *
    * The sign matrix is only dim·outDims values, so it is computed ONCE
    * driver-side (JVM md5 ≡ SQL md5) and embedded as literal arrays —
    * the IVF literal-centroid idiom — making the whole operator a pure
    * per-row projection: zip-multiply + decimal fold per output dim,
    * ZERO shuffle, no per-element hashing (a first cut hashed
    * md5(i,j) per row·element·dim — n·dim·outDims md5 calls that
    * dwarfed the actual arithmetic). Per-product contributions are
    * rounded to 6 decimals and folded as DECIMAL in fixed index order,
    * so components are replay- and partition-order-stable — the same
    * property meanPool guarantees.
    *
    * Every vector must have exactly `dim` components (a short vector
    * zips against missing signs → null component, surfacing the
    * contract violation rather than silently truncating).
    */
  def randomProjection(
      vectors: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      outDims: Int,
      seed: String
  ): DataFrame = {
    require(dim >= 1 && outDims >= 1, "dim and outDims must be >= 1")
    def sign(i: Int, j: Int): Double = {
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$seed:$i:$j".getBytes(java.nio.charset.StandardCharsets.UTF_8))
      // first 8 hex chars = first 4 bytes big-endian; parity = low bit of byte 3
      if ((h(3) & 1) == 0) 1.0 else -1.0
    }
    val zero = lit(new java.math.BigDecimal("0.000000")).cast("decimal(38,6)")
    val comps = array((0 until outDims).map { j =>
      val signs = array((0 until dim).map(i => lit(sign(i, j))): _*)
      aggregate(
        zip_with(col(vecCol).cast("array<double>"), signs,
          (x, s) => round(x * s, 6).cast("decimal(18,6)")),
        zero,
        (acc, c) => (acc + c).cast("decimal(38,6)"))
    }: _*)
    vectors
      .select(col(idCol), posexplode(comps).as(Seq("j", "__c")))
      .select(col(idCol), col("j"), col("__c").cast("string").cast("double").as("comp"))
  }

  /** Product-quantization ADC (asymmetric distance computation) top-k:
    * the corpus is compressed to `subspaces` small codes per vector
    * (nearest of `codes` codebook centroids per subspace, all in-row —
    * the corpus never shuffles to be indexed, mirroring the IVF
    * assignment contract), and each query ranks candidates by the
    * distance to the RECONSTRUCTED vectors. The codebook is sampled
    * from `codes` hash-ordered corpus vectors (k-means-init style) and
    * collected driver-side — codes × dim doubles, the same bounded
    * collect as IVF centroid training. At 100 TB the codes table is
    * ~8 bytes/vector; the full-precision corpus is read once to build
    * it and never again at query time.
    */
  def pqAdcTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      subspaces: Int = 8,
      codes: Int = 16
  ): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sample = corpus
      .orderBy(xxhash64(col(idCol), lit(7)))
      .limit(codes)
      .select(col(vecCol))
      .collect()
      .map(_.getSeq[Double](0).toArray)
    require(sample.length == codes, s"corpus smaller than $codes codebook rows")
    val dim = sample.head.length
    require(dim % subspaces == 0, "dim must divide into subspaces")
    val sub = dim / subspaces
    // flattened codebook: cb[((j*codes + c)*sub + kk)] = sample(c)(j*sub+kk),
    // shipped as a plan reference object into the native PQ expressions
    // (graft.functions.PqKernel — tight codegen loops; the HOF form of the
    // same math lives in the SQL-mirrorable `vec_pq` driver query)
    val cbFlat = (for (j <- 0 until subspaces; c <- 0 until codes; kk <- 0 until sub)
      yield sample(c)(j * sub + kk)).toArray
    val coded = corpus
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("c_vec"))
      .withColumn("codes",
        graft.functions.PqFunctions.pqCodes(col("c_vec"), cbFlat, subspaces, codes))
      .select("neighbor_id", "codes")
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("q_vec"))
    val scored = coded
      .join(broadcast(q), col("neighbor_id") =!= col("query_id"))
      .withColumn("adc",
        graft.functions.PqFunctions.pqAdc(col("q_vec"), col("codes"), cbFlat, subspaces, codes))
    val w = Window.partitionBy("query_id").orderBy(col("adc"), col("neighbor_id"))
    scored
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("query_id"), col("neighbor_id"), col("adc"))
  }

  /** Full IVF-PQ: coarse cells prune WHICH corpus slice each query
    * reads (nProbe/nCells scan fraction), PQ codes over the cell
    * RESIDUALS (vec − centroid — residuals are smaller than raw vectors,
    * so the same codebook budget quantizes finer) prune WITHIN the
    * probed cells via ADC, and only the surviving candidates are fetched
    * at full precision for the exact rerank. Within one cell
    * ‖q−c‖² = ‖r_q−r_c‖², so residual-ADC ranks exactly what raw-ADC
    * would, at higher codebook resolution. The corpus never shuffles to
    * be indexed: cell assignment, residual, and codes are all in-row
    * against plan-literal centroids/codebooks (the FAISS IVF-PQ layout
    * re-expressed as projections).
    */
  def ivfPqRerankTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      nCells: Int = 16,
      nProbe: Int = 4,
      nCandidates: Int = 32,
      subspaces: Int = 8,
      codes: Int = 16,
      iters: Int = 2
  ): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cents = trainCentroids(corpus, idCol, vecCol, nCells, iters)
    val centArr = typedLit(cents.map(_.toIndexedSeq).toIndexedSeq)
    def residual(vec: Column, cell: Column): Column =
      zip_with(vec, element_at(centArr, cell + 1), (x, y) => x - y)
    val cu = unitVectors(corpus, idCol, vecCol)
      .select(col("id").as("neighbor_id"), col("unit").as("c_vec"))
      .withColumn("cell", assignCell(col("c_vec"), cents))
      .withColumn("resid", residual(col("c_vec"), col("cell")))
    val sample = cu.orderBy(xxhash64(col("neighbor_id"), lit(7))).limit(codes)
      .select("resid").collect().map(_.getSeq[Double](0).toArray)
    require(sample.length == codes, s"corpus smaller than $codes codebook rows")
    val dim = sample.head.length
    require(dim % subspaces == 0, "dim must divide into subspaces")
    val sub = dim / subspaces
    val cbFlat = (for (j <- 0 until subspaces; c <- 0 until codes; kk <- 0 until sub)
      yield sample(c)(j * sub + kk)).toArray
    val coded = cu.select(col("neighbor_id"), col("cell"),
      graft.functions.PqFunctions.pqCodes(col("resid"), cbFlat, subspaces, codes).as("codes"))
    val qu = unitVectors(queries, idCol, vecCol)
      .select(col("id").as("query_id"), col("unit").as("q_vec"))
      .withColumn("cell", explode(probeCells(col("q_vec"), cents, nProbe)))
      .withColumn("q_resid", residual(col("q_vec"), col("cell")))
    val wAdc = Window.partitionBy("query_id").orderBy(col("adc"), col("neighbor_id"))
    val cands = coded
      .join(broadcast(qu), Seq("cell"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("adc",
        graft.functions.PqFunctions.pqAdc(col("q_resid"), col("codes"), cbFlat, subspaces, codes))
      .withColumn("rk", row_number().over(wAdc))
      .filter(col("rk") <= nCandidates)
      .select("query_id", "neighbor_id")
      .dropDuplicates("query_id", "neighbor_id") // a pair can surface via 2 probed cells
    val fullUnit = unitVectors(corpus, idCol, vecCol)
      .select(col("id").as("neighbor_id"), col("unit").as("c_vec"))
    val q = unitVectors(queries, idCol, vecCol)
      .select(col("id").as("query_id"), col("unit").as("q_vec"))
    val wTop = Window.partitionBy("query_id").orderBy(col("cosine").desc, col("neighbor_id").asc)
    cands
      .join(fullUnit, Seq("neighbor_id")) // candidate-sized full-precision fetch
      .join(broadcast(q), Seq("query_id"))
      .withColumn("cosine", round(dot(col("q_vec"), col("c_vec")), 6))
      .withColumn("rank", row_number().over(wTop))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id", "cosine")
  }

  /** PQ-ADC candidate generation + EXACT rerank — the production IVF-PQ
    * read path: the compressed codes prune the corpus to `nCandidates`
    * per query (8-byte rows, no full-precision reads), then ONLY the
    * candidate set is fetched at full precision and reranked by exact
    * L2. Scan fraction at query time ≈ nCandidates/corpus of the
    * full-precision data; the invariant the driver checks is recall of
    * the RERANKED top-k vs brute force.
    */
  def pqAdcRerankTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      nCandidates: Int,
      subspaces: Int = 8,
      codes: Int = 16
  ): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cands = pqAdcTopK(corpus, queries, idCol, vecCol, nCandidates, subspaces, codes)
      .select(col("query_id"), col("neighbor_id"))
    val full = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("c_vec"))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("q_vec"))
    val w = Window.partitionBy("query_id").orderBy(col("l2"), col("neighbor_id"))
    cands
      .join(full, Seq("neighbor_id")) // candidate-sized fetch of full precision
      .join(broadcast(q), Seq("query_id"))
      .withColumn("l2", expr(
        """aggregate(zip_with(q_vec, c_vec, (x, y) -> (x - y) * (x - y)),
          | cast(0.0 as double), (acc, v) -> acc + v)""".stripMargin))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("query_id"), col("neighbor_id"), col("l2"))
  }

  // ----- SemDeDup — cluster-then-prune semantic deduplication -----

  /** Per-vector (id, cell, cent_sim, unit) against freshly trained
    * spherical-k-means centroids — the shared projection under
    * [[semanticDedup]] and its oracle aux dump (the DuckDB side cannot
    * replay the XXH64-seeded centroid training, but it CAN replay the
    * within-cell prune rule over this dump — the `dedup_simhash`
    * signature-dump precedent). `cent_sim` is the cosine to the
    * assigned (unit-norm) centroid, rounded to 6 so both engines
    * compare identical doubles. Pure map-side projection after the
    * bounded centroid train: the corpus never shuffles to be assigned.
    */
  def semanticCells(
      vectors: DataFrame,
      idCol: String,
      vecCol: String,
      nCells: Int,
      iters: Int = 4
  ): DataFrame =
    semanticCellsFrozen(vectors, idCol, vecCol,
      trainCentroids(vectors, idCol, vecCol, nCells, iters))

  /** [[semanticCells]] under GIVEN (frozen) centroids — the assignment
    * half, split out for the incremental path: a delta batch must land
    * in the SAME cell geometry as the persisted index or the
    * cluster-blocked prune silently loses cross-batch pairs. */
  def semanticCellsFrozen(
      vectors: DataFrame,
      idCol: String,
      vecCol: String,
      cents: Array[Array[Double]]
  ): DataFrame =
    unitVectors(vectors, idCol, vecCol)
      .withColumn("best", array_max(cellScores(col("unit"), cents)))
      .select(
        col("id"),
        col("best").getField("c").as("cell"),
        round(col("best").getField("s"), 6).as("cent_sim"),
        col("unit"))

  /** Greedy k-center coreset selection (Gonzalez 1985; the diversity
    * half of coreset-based data selection — Sener & Savarese ICLR'18 use
    * exactly this rule for active learning): starting from the min-id
    * vector, repeatedly pick the point FARTHEST from the chosen set
    * (max over corpus of min cosine-distance to centers; ties → min id).
    * The selected k are the most mutually-spread exemplars — the
    * opposite pole from dedup, same distance machinery.
    *
    * Scale posture: the trainCentroids/BPE train-loop shape — centers
    * live driver-side as literals (k rows), each round is ONE map-side
    * min-distance projection over the corpus plus a 1-row TakeOrdered
    * collect; k rounds = k linear passes, no pairwise materialization.
    * Distance = 1 − round(cosine, 6) on RAW vectors (the ann_bruteforce
    * cross-engine convention), so every pick replays exactly.
    *
    * Returns (step, center_id, radius): radius = the max-min-distance
    * that selected the step's center (0 for step 1 by convention) — a
    * nonincreasing sequence whose tail is the corpus covering radius.
    */
  def kCenterGreedy(
      vectors: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int
  ): DataFrame = {
    require(k >= 1, "kCenterGreedy needs k >= 1")
    val sp = vectors.sparkSession
    val v = vectors.select(col(idCol).cast("long").as("id"), col(vecCol).as("vec"))
      .transform(Ckpt.lazyCkpt)
    val first = v.orderBy("id").limit(1).collect()(0)
    var centers = Vector((first.getLong(0), first.getSeq[Double](1), 0.0))
    for (_ <- 2 to k) {
      val minDist = centers
        .map { case (_, c, _) =>
          lit(1.0) - round(cosine(col("vec"), typedLit(c)), 6)
        }
        .reduce((a, b) => least(a, b))
      // one 1-row TakeOrdered job per round: the argmax row carries its
      // own vector, so no second lookup scan is needed
      val pick = v.select(col("id"), col("vec"), minDist.as("d"))
        .orderBy(col("d").desc, col("id").asc)
        .limit(1).collect()(0)
      centers = centers :+ ((pick.getLong(0), pick.getSeq[Double](1), pick.getDouble(2)))
    }
    import sp.implicits._
    centers.zipWithIndex
      .map { case ((id, _, r), i) => (i + 1, id, r) }
      .toDF("step", "center_id", "radius")
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): cluster embeddings
    * with spherical k-means, then prune WITHIN each cluster — a vector is
    * dropped iff some same-cell vector with cosine ≥ `tau` is preferred,
    * where the kept side is the one FARTHER from the centroid (lower
    * `cent_sim`; ties keep the lower id). Keeping the outlier is the
    * paper's diversity argument: the prototypical member of a semantic-dup
    * group carries the least marginal training signal.
    *
    * Scale posture (the paper's own): candidate generation is
    * cluster-blocked, never all-pairs — one shuffle on `cell`, quadratic
    * work only within a cell. With the √n sizing rule (nCells ≈ √n) the
    * expected cell is √n rows, so total pair work is O(n^1.5) spread over
    * nCells independent groups; at the paper's scale (600M docs, 11k
    * clusters) the same shape holds. Cross-cell near-dups are accepted
    * misses by construction — that recall trade IS SemDeDup (the
    * LSH-blocked [[embeddingDupPairsLsh]] is the recall-complete
    * alternative at higher cost).
    *
    * Returns the SURVIVORS (id, cell, cent_sim), one row per kept vector.
    */
  def semanticDedup(
      vectors: DataFrame,
      idCol: String,
      vecCol: String,
      nCells: Int,
      tau: Double,
      iters: Int = 4,
      cellCap: Int = 4096,
      cellSplits: Int = 16
  ): DataFrame =
    pruneCells(semanticCells(vectors, idCol, vecCol, nCells, iters), tau, cellCap, cellSplits)

  /** The within-cell prune core of [[semanticDedup]] — split out so the
    * scale probe can pin the shuffle-bearing machinery under its own
    * (constant-width) cell assignment. Input: (id, cell, cent_sim, unit)
    * rows; output: the survivors (id, cell, cent_sim). */
  private[graft] def pruneCells(cells: DataFrame, tau: Double,
      cellCap: Int = 4096, cellSplits: Int = 16): DataFrame = {
    // lazy localCheckpoint so the corpus-wide unit-vector assignment
    // executes ONCE: cellDrops' eager oversized-cell detection, the
    // anti-join's left side, and the pair generation all read the same
    // materialized blocks (the probe path checkpoints `rem` for exactly
    // this fan-out; the batch entry point was the one missing it)
    val c = cells.transform(Ckpt.lazyCkpt)
    c.join(cellDrops(c, tau, cellCap, cellSplits), Seq("id"), "left_anti")
      .select(col("id"), col("cell"), col("cent_sim"))
  }

  /** The DROPPED ids of [[pruneCells]] — exposed separately because the
    * incremental probe must label each delta row's fate, not just keep
    * the survivors.
    *
    * Oversized-cell guard (round-9 verdict item 2): the within-cell
    * quadratic is SemDeDup's contract, but a degenerate embedding
    * distribution (k-means collapse — e.g. mostly-zero vectors landing in
    * one cell) concentrates the whole m² on ONE join key, i.e. one task.
    * Cells above `cellCap` rows (default 4096) are
    * therefore SUB-BANDED: each row gets a deterministic chunk
    * c = xxhash64(id) mod k, the left side replicates over all right
    * chunks and vice versa, and the join key becomes (cell, ca, cb) — the
    * identical pair set, spread over k² independent tasks (the
    * both-sides-replication skew split, `allBucketPairs`' overflow spirit
    * applied to a keyed self-join). k = `cellSplits`
    * (default 16) bounds replication at k× on the oversized slice only.
    * Results are bit-identical to the unguarded join (pair set equality —
    * each unordered pair meets in exactly one (chunk(a), chunk(b)) task).
    */
  private[graft] def cellDrops(cells: DataFrame, tau: Double,
      cellCap: Int = 4096, cellSplits: Int = 16): DataFrame = {
    def aSide(df: DataFrame) = df.select(
      col("cell"), col("id").as("a_id"), col("unit").as("a_vec"), col("cent_sim").as("a_cs"))
    def bSide(df: DataFrame) = df.select(
      col("cell"), col("id").as("b_id"), col("unit").as("b_vec"), col("cent_sim").as("b_cs"))
    def prune(pairs: DataFrame): DataFrame = pairs
      .filter(col("a_id") =!= col("b_id"))
      // unit vectors → cosine is one native dot; round BEFORE the
      // threshold so both engines gate on the identical 6-decimal value
      .filter(round(dot(col("a_vec"), col("b_vec")), 6) >= tau)
      .filter(col("b_cs") < col("a_cs") ||
        (col("b_cs") === col("a_cs") && col("b_id") < col("a_id")))
      .select(col("a_id").as("id"))
    // Oversized-cell detection is an EAGER bounded job (nCells result
    // rows by the √n sizing rule): the well-conditioned common case then
    // keeps the exact pre-guard plan — no new Exchange, plan pins and
    // scale-probe shapes unchanged.
    val oversized: Array[Int] = cells.groupBy("cell").agg(count(lit(1)).as("__csz"))
      .filter(col("__csz") > cellCap).select("cell").collect().map(_.getInt(0))
    if (oversized.isEmpty)
      prune(aSide(cells).join(bSide(cells), Seq("cell"))).distinct()
    else {
      // A k-means collapse concentrated >cellCap rows on one join key —
      // the whole m² would land in ONE task. Sub-band the degenerate
      // cells: chunk c = xxhash64(id) mod k per row, each side
      // replicated over the other side's k chunks, join key
      // (cell, ca, cb) — the identical ordered-pair set (each pair meets
      // in exactly one (chunk(a), chunk(b)) task), spread over k²
      // independent tasks at k× replication of the oversized slice only
      // (the allBucketPairs overflow guard's shape, applied to the keyed
      // self-join — round-9 verdict item 2).
      val ok = cells.filter(!col("cell").isin(oversized.map(Int.box): _*))
      val big = cells.filter(col("cell").isin(oversized.map(Int.box): _*))
      val chunks = sequence(lit(0), lit(cellSplits - 1))
      val bigA = aSide(big)
        .withColumn("ca", pmod(xxhash64(col("a_id")), lit(cellSplits)))
        .withColumn("cb", explode(chunks))
      val bigB = bSide(big)
        .withColumn("cb", pmod(xxhash64(col("b_id")), lit(cellSplits)))
        .withColumn("ca", explode(chunks))
      prune(aSide(ok).join(bSide(ok), Seq("cell")))
        .unionByName(prune(bigA.join(bigB, Seq("cell", "ca", "cb"))))
        .distinct()
    }
  }

  /** Maximal Marginal Relevance (MMR) re-ranking (Carbonell & Goldstein
    * SIGIR'98): from each query's top-`poolK` relevance candidates,
    * greedily select `selectK` maximizing
    * λ·rel(q,d) − (1−λ)·max_{s∈selected} sim(d,s) — the
    * diversity-aware top-k every RAG retrieval stack runs after ANN.
    *
    * Scale shape: candidate generation is the existing top-k machinery
    * (broadcast queries, per-query window); the greedy step — inherently
    * sequential in k — runs per QUERY GROUP over ≤ poolK rows via
    * `groupByKey.flatMapGroups`, so memory is O(poolK²) per group and
    * the stage parallelizes across queries (the 100 TB axis). Pairwise
    * sims use the same left-to-right double dot and round-6 convention
    * as [[bruteForceTopK]], so a DuckDB twin replays the greedy
    * bit-for-bit; ties break on candidate id.
    *
    * `vecCol` must be array<double> (cast with VectorFunctions.asDouble).
    */
  def mmrRerank(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      poolK: Int = 16,
      selectK: Int = 5,
      lambda: Double = 0.7): DataFrame = {
    val pool = bruteForceTopK(corpus, queries, idCol, vecCol, poolK)
    val withVec = pool
      .join(corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("nvec")),
        Seq("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), col("cosine").as("rel"), col("nvec"))
    mmrFromPool(withVec, selectK, lambda)
  }

  /** The MMR greedy over an ALREADY-GENERATED candidate pool — columns
    * (query_id: long, neighbor_id: long, rel: double, nvec:
    * array<double>). Split out so the pool can come from any retriever:
    * [[bruteForceTopK]] (the exact twin above) or an IVF/PQ index probe
    * (the `ann:///?mode=rerank` CLI path — ANN pool → MMR is the
    * production RAG shape).
    */
  def mmrFromPool(
      withVec0: DataFrame,
      selectK: Int,
      lambda: Double): DataFrame = {
    import org.apache.spark.sql.{Encoders, Row}
    val withVec = withVec0.select(col("query_id").cast("long"),
      col("neighbor_id").cast("long"), col("rel").cast("double"), col("nvec"))
    val out = withVec
      .groupByKey((r: Row) => r.getLong(0))(Encoders.scalaLong)
      .flatMapGroups { (qid: Long, it: Iterator[Row]) =>
        def dotA(a: Array[Double], b: Array[Double]): Double = {
          var s = 0.0; var i = 0
          while (i < a.length) { s += a(i) * b(i); i += 1 }
          s
        }
        val cands = it
          .map(r => (r.getLong(1), r.getDouble(2), r.getSeq[Double](3).toArray))
          .toArray.sortBy(c => (-c._2, c._1))
        val nc = cands.length
        val norms = cands.map(c => math.sqrt(dotA(c._3, c._3)))
        // RAW doubles, deliberately un-rounded: the left-to-right dot
        // and the score combine are bit-identical chains on any engine,
        // while ROUNDING is the one op where Spark (shortest-repr
        // BigDecimal) and DuckDB (×10⁶ double multiply) can disagree at
        // a .5e-7 boundary — caught on-data at sf0.01 (0.20303949…:
        // 0.203039 vs 0.20304). No rounding → no boundary class.
        val sim = Array.tabulate(nc, nc) { (i, j) =>
          if (i == j) 1.0
          else {
            val den = norms(i) * norms(j)
            if (den == 0) 0.0 else dotA(cands(i)._3, cands(j)._3) / den
          }
        }
        val selected = scala.collection.mutable.ArrayBuffer.empty[Int]
        val rows = scala.collection.mutable.ArrayBuffer.empty[(Long, Int, Long, Double, Double)]
        while (selected.length < math.min(selectK, nc)) {
          var best = -1
          var bestScore = 0.0
          var i = 0
          while (i < nc) {
            if (!selected.contains(i)) {
              val score =
                if (selected.isEmpty) cands(i)._2
                else {
                  var ms = -1.0
                  selected.foreach(j => if (sim(i)(j) > ms) ms = sim(i)(j))
                  lambda * cands(i)._2 - (1.0 - lambda) * ms
                }
              if (best < 0 || score > bestScore ||
                  (score == bestScore && cands(i)._1 < cands(best)._1)) {
                best = i; bestScore = score
              }
            }
            i += 1
          }
          selected += best
          rows += ((qid, selected.length, cands(best)._1, cands(best)._2, bestScore))
        }
        rows.iterator
      }(Encoders.product[(Long, Int, Long, Double, Double)])
    out.toDF("query_id", "mmr_rank", "neighbor_id", "relevance", "mmr_score")
  }
}
