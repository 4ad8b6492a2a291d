package graft.operators

import graft.functions.TextFunctions._
import graft.functions.{HashedShingles, MinHashSignature, SimHash64}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.GraftColumns

/** Deduplication operators for document corpora.
  *
  * Scale posture (100 TB): every near-dup path is
  * (1) one projection computing per-doc signatures (linear scan; string
  *     hashing happens exactly ONCE per shingle/token — MinHash
  *     permutations are derived by long arithmetic, not re-hashing),
  * (2) one shuffle on a blocking/band key,
  * (3) pair generation ONLY within buckets via groupBy+collect_list —
  *     never a self-join, which would re-execute the signature scan on
  *     both sides; buckets over `maxBucketSize` take a distributed
  *     overflow join over the exploded bucket rows (above the bucket
  *     Exchange — no signature recompute, no m²-struct task, no dropped
  *     pairs),
  * (4) a cheap exact verify on candidate pairs only, against signature
  *     columns materialized BEFORE the join (re-deriving shingles from
  *     text per pair measured ~50× slower).
  */
object DedupOps {

  /** Exact dedup by content hash: one row per distinct content with the
    * smallest id as the keeper and the duplicate count.
    * One shuffle (groupBy hash); map-side partial aggregation applies.
    */
  def exact(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.select(fingerprint(col(textCol)).as("content_hash"), col(idCol))
      .groupBy("content_hash")
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("dup_count"))

  /** All exact-duplicate pairs (identical normalized content), a < b:
    * one groupBy on the content hash, pairs within hash buckets (the
    * overflow path covers degenerate hashes with >maxBucketSize rows).
    */
  def exactDupPairs(df: DataFrame, textCol: String, idCol: String, maxBucketSize: Int = 64): DataFrame = {
    val buckets = df
      .select(fingerprint(col(textCol)).as("h"), col(idCol).as("id"))
      .groupBy("h")
      .agg(sort_array(collect_list(col("id"))).as("ids"))
    allBucketPairs(buckets, Seq("h"), "ids", maxBucketSize)
      .select(col("a").as("a_id"), col("b").as("b_id"))
  }

  /** Keep-first exact dedup: returns the deduplicated rows themselves. */
  def exactKeepFirst(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val w = Window.partitionBy(fingerprint(col(textCol))).orderBy(col(idCol))
    df.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
  }

  /** Distinct shingle set as 64-bit hashes: set operations on longs are
    * ~an order of magnitude cheaper than on shingle strings, and |A∩B| is
    * preserved (64-bit collisions are ~1e-9 at corpus scale). Native
    * kernel — the token chain is evaluated once per row, not once per
    * shingle as the nested-HOF formulation did under interpretation.
    */
  def hashedShingleSet(text: Column, n: Int): Column =
    GraftColumns.column(HashedShingles(GraftColumns.expression(tokens(text)), n))

  /** Jaccard similarity between two PRECOMPUTED distinct-element arrays.
    * Callers must materialize the shingle sets as columns before any join:
    * recomputing the tokenize→shingle pipeline per candidate pair turns a
    * linear scan into pairs×text-length work (measured 50× slowdown).
    */
  def jaccardSets(sa: Column, sb: Column): Column = {
    val inter = size(array_intersect(sa, sb)).cast("double")
    val union = size(array_union(sa, sb)).cast("double")
    when(union === 0, 0d).otherwise(inter / union)
  }

  /** Per-doc MinHash signature via the native `MinHashSignature`
    * expression over the hashed shingle set: one map-side projection, NO
    * shuffle and no explode — each doc's k-minima are computed in a tight
    * precompiled loop (SketchKernels.minhashSig).
    *
    * History: round 1 used explode→groupBy(id) with k min-aggregates to
    * defeat CollapseProject's ~10⁴-node inlining; that shape was correct
    * but its k-wide generated aggregate code backed up HotSpot's C2 queue
    * badly enough to slow unrelated queries in the same JVM. The native
    * expression keeps the plan a pure scan→project (the ideal 100 TB
    * shape) AND keeps generated code one line. Output: (id, sig).
    */
  def minhashSignatures(df: DataFrame, textCol: String, idCol: String, shingleSize: Int, k: Int): DataFrame =
    df.select(col(idCol).as("id"), hashedShingleSet(col(textCol), shingleSize).as("sh"))
      .select(col("id"), minhashSigCol(col("sh"), k).as("sig"))

  /** Native MinHash signature column over a precomputed array<long> of
    * element hashes. */
  def minhashSigCol(hashedSet: Column, k: Int): Column =
    GraftColumns.column(MinHashSignature(GraftColumns.expression(hashedSet), k))

  /** The numBands LSH band keys of a k = numBands×rowsPerBand signature:
    * band b's key hashes rows [b·r, (b+1)·r) with the band index as a
    * second hash input so identical row-slices in different bands cannot
    * collide into one bucket. Shared by the batch candidate path and the
    * persisted incremental index so both sides of an incremental probe
    * derive IDENTICAL keys. */
  def bandKeys(sig: Column, numBands: Int, rowsPerBand: Int): Column =
    transform(
      sequence(lit(0), lit(numBands - 1)),
      b => xxhash64(slice(sig, b * rowsPerBand + 1, lit(rowsPerBand)), b))

  /** All (a,b) pairs (a<b by the array sort order) from a collected
    * per-bucket array column — pair generation without a self-join.
    */
  private[operators] def bucketPairs(arr: Column): Column =
    flatten(
      transform(
        sequence(lit(1), size(arr) - 1),
        i => transform(slice(arr, i + 1, size(arr)), b => struct(element_at(arr, i).as("a"), b.as("b")))
      )
    )

  /** Within-bucket pairs (a < b) over `(keyCols..., itemsCol)` bucket rows,
    * with NO silently dropped buckets: buckets up to `maxBucketSize` use
    * in-row `bucketPairs` generation (one task, zero join); larger buckets
    * fall back to a distributed equi-join on the bucket key OVER THE
    * EXPLODED BUCKET ROWS ONLY (ids/sigs — the upstream signature scan is
    * below the bucket aggregation's Exchange, so it is not re-executed),
    * so no single task materializes m² structs and the output provably
    * equals the full within-bucket pair set. Round-2 advisor finding: the
    * old cap dropped every pair of an oversized bucket, making the output
    * a strict subset of the quadratic oracle's pair set on clusters of
    * >maxBucketSize near-identical docs.
    */
  /** Public entry to the guarded pair expansion for basket-shaped data
    * (market-basket affinity, co-order graphs): all within-bucket (a,b)
    * pairs with a < b by the array's sort order, generated IN-ROW for
    * buckets up to `maxBucketSize` and via the distributed overflow join
    * above it — a 10⁵-item basket costs a bounded equi-join, never a
    * 5·10⁹-struct row (round-7 verdict item 6). Exact: no dropped pairs.
    */
  def boundedBucketPairs(
      buckets: DataFrame,
      keyCols: Seq[String],
      itemsCol: String,
      maxBucketSize: Int = 1024
  ): DataFrame = allBucketPairs(buckets, keyCols, itemsCol, maxBucketSize)

  private[operators] def allBucketPairs(
      buckets: DataFrame,
      keyCols: Seq[String],
      itemsCol: String,
      maxBucketSize: Int
  ): DataFrame = {
    // The bucket table feeds three consumers (small path, both sides of
    // the overflow join). Column pruning gives each branch a different
    // required-column set, so their Exchanges don't canonicalize equal and
    // ReuseExchange does NOT kick in — without materialization the whole
    // upstream signature scan would run three times (observed in the
    // physical plan as three parquet scans). The bucket table is only ids/
    // sigs grouped by bucket key — far smaller than the corpus — so a lazy
    // local checkpoint (computed on first use inside the same action) is
    // the right trade at 100 TB. Caveat: executor loss invalidates local
    // checkpoint blocks; on a shared cluster prefer reliable checkpointing.
    val sized = buckets.withColumn("__sz", size(col(itemsCol))).transform(Ckpt.lazyCkpt)
    val small = sized
      .filter(col("__sz").between(2, maxBucketSize))
      .select(explode(bucketPairs(col(itemsCol))).as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
    val bigItems = sized
      .filter(col("__sz") > maxBucketSize)
      .select(keyCols.map(col) :+ explode(col(itemsCol)).as("it"): _*)
    val big = bigItems.as("x")
      .join(bigItems.as("y"),
        keyCols.map(k => col(s"x.$k") === col(s"y.$k")).reduce(_ && _) && col("x.it") < col("y.it"))
      .select(col("x.it").as("a"), col("y.it").as("b"))
    small.unionByName(big)
  }

  /** Candidate near-dup pairs via MinHash banding.
    *
    * numBands bands of rowsPerBand rows; docs agreeing on any band hash
    * are candidates. Emits distinct (a_id, b_id) with a < b. One scan to
    * compute signatures, one shuffle on band keys, pairs generated inside
    * collect_list buckets up to maxBucketSize; oversized buckets take the
    * distributed overflow path in `allBucketPairs` (no dropped pairs).
    */
  def minhashCandidates(
      df: DataFrame,
      textCol: String,
      idCol: String,
      shingleSize: Int = 3,
      numBands: Int = 8,
      rowsPerBand: Int = 4,
      maxBucketSize: Int = 64
  ): DataFrame =
    minhashCandidatesOf(
      df.select(col(idCol).as("id"), hashedShingleSet(col(textCol), shingleSize).as("sh")),
      numBands, rowsPerBand, maxBucketSize)

  /** [[minhashCandidates]] over a PRECOMPUTED `(id, sh)` hashed-shingle
    * frame — the shared-signature entry (r15): composite incremental
    * queries shingle the same corpus slice for pair generation, the
    * verify join AND the persisted index build; one pinned signature
    * frame feeds all three instead of re-running the tokenize+hash scan
    * per consumer. Plan-identical to the textCol path when handed the
    * bare projection. */
  def minhashCandidatesOf(
      docsSh: DataFrame,
      numBands: Int,
      rowsPerBand: Int,
      maxBucketSize: Int = 64
  ): DataFrame = {
    val k = numBands * rowsPerBand
    val banded = docsSh
      .select(col("id"), minhashSigCol(col("sh"), k).as("sig"))
      .select(col("id"), explode(bandKeys(col("sig"), numBands, rowsPerBand)).as("band_key"))
    val buckets = banded
      .groupBy("band_key")
      .agg(sort_array(collect_list(col("id"))).as("ids"))
    allBucketPairs(buckets, Seq("band_key"), "ids", maxBucketSize)
      .select(col("a").as("a_id"), col("b").as("b_id"))
      .distinct()
  }

  /** MinHash LSH near-dup pairs, verified by exact shingle Jaccard ≥ τ.
    * The verify join re-attaches PRECOMPUTED shingle sets by id.
    */
  def minhashDupPairs(
      df: DataFrame,
      textCol: String,
      idCol: String,
      threshold: Double,
      shingleSize: Int = 3,
      numBands: Int = 8,
      rowsPerBand: Int = 4
  ): DataFrame =
    minhashDupPairsOf(
      df.select(col(idCol).as("id"), hashedShingleSet(col(textCol), shingleSize).as("sh")),
      threshold, numBands, rowsPerBand)

  /** [[minhashDupPairs]] over a precomputed `(id, sh)` frame — see
    * [[minhashCandidatesOf]]. */
  def minhashDupPairsOf(
      docsSh: DataFrame,
      threshold: Double,
      numBands: Int,
      rowsPerBand: Int
  ): DataFrame = {
    val cands = minhashCandidatesOf(docsSh, numBands, rowsPerBand)
    val docs = docsSh
    // NO pair-keyed repartition here (unlike the prefix-filter verify):
    // minhash candidate sets are band-bounded and the per-pair verify is
    // cheap, so the broadcast-join chain fuses into one already-parallel
    // stage; inserting exchanges here measurably HURT the CC-consuming
    // queries (union branches stopped fusing) with nothing to win
    cands
      .join(docs.as("da"), col("a_id") === col("da.id"))
      .join(docs.as("db"), col("b_id") === col("db.id"))
      .withColumn("jaccard", jaccardSets(col("da.sh"), col("db.sh")))
      .filter(col("jaccard") >= threshold)
      .select(col("a_id"), col("b_id"), round(col("jaccard"), 4).as("jaccard"))
  }

  /** The APPLY side of near-dup dedup — from verified pairs to surviving
    * ROWS: each duplicate cluster (connected component over the pair
    * graph) keeps exactly its minimum-id member; documents in no pair
    * survive untouched. Dropping `b_id` of every pair instead
    * over-deletes on overlapping clusters (a-b + b-c would drop b AND c);
    * the component view is the correct keep-one-per-cluster rule.
    * Cost: the CC rounds on the PAIR graph (tiny vs the corpus) + one
    * left-anti join on the id.
    */
  def applyPairDedup(
      docs: DataFrame,
      idCol: String,
      pairs: DataFrame,
      aCol: String = "a_id",
      bCol: String = "b_id",
      components: Option[DataFrame] = None
  ): DataFrame = {
    require(!docs.columns.contains("__drop_id"),
      "applyPairDedup: input column __drop_id collides with a reserved helper name")
    val drops = components.getOrElse(GraphOps.connectedComponents(pairs, aCol, bCol))
      .filter(col("id") =!= col("cluster_id"))
      .select(col("id").as("__drop_id"))
    docs.join(drops, docs(idCol) === col("__drop_id"), "left_anti")
  }

  /** [[applyPairDedup]] with a QUALITY preference: each cluster keeps its
    * highest-`score` member (deterministic tie-break: lowest id) instead
    * of blindly the min id — the production rule when near-dups differ
    * in cleanliness (keep the canonical page, drop the mirror with ads).
    * Cluster membership still comes from connected components; the
    * keeper pick is one row_number()≤1 window per cluster, which Spark
    * rewrites to a map-side WindowGroupLimit top-1 heap — no cluster's
    * members all funnel through one reducer unsorted.
    */
  def applyPairDedupPreferring(
      docs: DataFrame,
      idCol: String,
      pairs: DataFrame,
      score: Column,
      aCol: String = "a_id",
      bCol: String = "b_id",
      components: Option[DataFrame] = None
  ): DataFrame = {
    // the labels join injects id/cluster_id and the keeper pick injects
    // __rn — a caller column with one of those names would be silently
    // shadowed (same guard family as zscore/capPerKey/asofNearest)
    val reserved = Set("id", "cluster_id", "__rn") - idCol
    val clash = docs.columns.filter(c => reserved(c))
    require(clash.isEmpty,
      s"applyPairDedupPreferring: input columns collide with reserved names: ${clash.mkString(", ")}")
    val labels = components.getOrElse(GraphOps.connectedComponents(pairs, aCol, bCol))
    val members = docs.join(labels, docs(idCol) === labels("id"), "inner")
    val w = Window.partitionBy("cluster_id").orderBy(score.desc, col(idCol).asc)
    val keepers = members
      .withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1)
      .select(docs.columns.map(docs(_)): _*)
    val singletons = docs.join(labels, docs(idCol) === labels("id"), "left_anti")
    singletons.unionByName(keepers)
  }

  /** Asymmetric containment pairs: C(A,B) = |A∩B| / min(|A|,|B|) over
    * shingle sets — detects a document embedded inside another (quoted
    * article + boilerplate wrapper), which Jaccard misses because the
    * size imbalance dilutes the union.
    *
    * Blocking: rare-shingle inverted index. Any pair sharing at least
    * one shingle with document frequency ≤ `maxDf` becomes a candidate —
    * a deterministic, engine-replicable rule (the DuckDB oracle computes
    * the same candidate set on shingle STRINGS), unlike MinHash bands
    * whose recall for containment is poor precisely in the interesting
    * case (small-in-large ⇒ low Jaccard ⇒ bands miss). Common shingles
    * (df > maxDf) are boilerplate by definition and excluded from
    * BLOCKING (not from the verify): a contained pair shares its rare
    * content n-grams. Same bucket-pair machinery as MinHash (overflow
    * path, no self-join over the shingle scan).
    */
  /** The (id, shingles) table is checkpointed so the blocking explode
    * and the two verify joins read it once instead of re-running
    * tokenize→shingle three times (the bucket-table lesson:
    * differently-pruned consumers defeat ReuseExchange). Storage ∝
    * corpus shingle mass. */
  def containmentPairs(
      df: DataFrame,
      textCol: String,
      idCol: String,
      threshold: Double,
      shingleSize: Int = 3,
      maxDf: Int = 20,
      maxBucketSize: Int = 64
  ): DataFrame = {
    // EAGER (r15): three consumers (the shingle explode + both verify
    // attach sides) launch concurrent stages — the lazy pin raced its
    // own first materialization and re-ran the shingle scan per
    // consumer (profiled: the raw scan appeared twice at sf0.1); the
    // eager pin also gives the planner real sizes for the attach sides
    val docs = df.select(col(idCol).as("id"), hashedShingleSet(col(textCol), shingleSize).as("sh"))
      .transform(Ckpt.eagerCkpt)
    val sh = docs.select(col("id"), explode(col("sh")).as("h"))
    // per-shingle df via two-level groupBy — map-side partial aggregation
    // bounds a hot boilerplate shingle to one row per map partition. (The
    // previous count-window over h funneled EVERY copy of a hot shingle
    // through one reducer just to filter it out — the dedup_spans hazard,
    // same fix.) The ≤maxDf set rides back as a semi join: AQE broadcasts
    // it when small, skew-splits the shuffle when not; the shingle table
    // is checkpointed so no re-tokenize on either side.
    val rareH = sh.groupBy("h").agg(count(lit(1)).as("df")).filter(col("df") <= maxDf)
    val rare = sh.join(rareH.select("h"), Seq("h"), "left_semi")
    val buckets = rare.groupBy("h").agg(sort_array(collect_list(col("id"))).as("ids"))
    val cands = allBucketPairs(buckets, Seq("h"), "ids", maxBucketSize)
      .select(col("a").as("a_id"), col("b").as("b_id"))
      .distinct()
    cands
      .join(docs.as("da"), col("a_id") === col("da.id"))
      .join(docs.as("db"), col("b_id") === col("db.id"))
      .withColumn("containment",
        size(array_intersect(col("da.sh"), col("db.sh"))).cast("double") /
          least(size(col("da.sh")), size(col("db.sh"))))
      .filter(col("containment") >= threshold)
      .select(col("a_id"), col("b_id"), round(col("containment"), 4).as("containment"))
  }

  /** Exact edit-distance-≤1 pairs via deletion-neighborhood blocking
    * (FastSS/SymSpell): a SHORT-STRING operator (names, titles, codes) —
    * the variant explode is |s| rows of |s| bytes per string, quadratic
    * in string length; use the shingle family for document-scale text.
    * Every string generates its |s| single-character
    * deletion variants plus itself; two strings within edit distance 1
    * NECESSARILY share a variant (substitution at i → both i-deletions
    * equal; insertion/deletion → the shorter string is a variant of the
    * longer), so recall is complete and the cheap levenshtein verify on
    * bucket pairs only removes false positives (e.g. transpositions).
    *
    * Scale: linear explode (Σ|s| variant rows), one shuffle on the
    * variant, bucket pair-gen with the shared overflow path. The naive
    * alternative — an equi-join on a block key with the levenshtein in
    * the join condition — evaluates the O(|s|²) distance for every
    * in-block pair (measured 50s on 15k rows blocked 25 ways at sf0.1;
    * this shape: <1s).
    */
  def editDistancePairs(
      df: DataFrame,
      strCol: String,
      idCol: String,
      maxBucketSize: Int = 64
  ): DataFrame = {
    val base = df.select(col(idCol).as("id"), col(strCol).as("s"))
    val variants = base.select(
      col("id"), col("s"),
      explode(array_distinct(concat(
        array(col("s")),
        transform(sequence(lit(1), length(col("s"))),
          i => concat(
            col("s").substr(lit(1), i - 1),
            col("s").substr(i + 1, length(col("s")))))))).as("del_variant"))
    val buckets = variants.groupBy("del_variant")
      .agg(sort_array(collect_list(col("id"))).as("ids"))
      .filter(size(col("ids")) > 1)
    val cands = allBucketPairs(buckets, Seq("del_variant"), "ids", maxBucketSize)
      .select(col("a").as("a_id"), col("b").as("b_id"))
      .distinct()
    cands
      .join(base.select(col("id").as("a_id"), col("s").as("sa")), "a_id")
      .join(base.select(col("id").as("b_id"), col("s").as("sb")), "b_id")
      .withColumn("dist", levenshtein(col("sa"), col("sb")).cast("long"))
      .filter(col("dist") <= 1)
      .select(col("a_id"), col("b_id"), col("dist"))
  }

  /** Blocked Jaro-Winkler similarity join over a multi-word name column:
    * all (a_id < b_id) pairs in the same `blockCol` block whose names
    * score jw ≥ thresholdNum/thresholdDen, similarity reported as one
    * double division of the kernel's exact rational (threshold decided
    * by integer cross-multiplication — no FP boundary).
    *
    * Scale shape — the kernel NEVER runs corpus×corpus:
    *  1. candidate generation runs over DISTINCT names (vocabulary-
    *     sized, not corpus-sized; identical-name mass — the bulk of a
    *     web-scale fuzzy join's output — costs one equality join and
    *     zero kernel evaluations);
    *  2. candidates come from a word-level deletion-1 neighborhood on
    *     the SORTED word array (full key + each delete-one-position
    *     key): COMPLETE for name pairs whose word multisets differ by
    *     at most one word (substitute/insert/delete, any word order) —
    *     the FastSS/`editDistancePairs` contract lifted from chars to
    *     words. Pairs outside that family are assumed below threshold;
    *     the full-quadratic oracle certifies that assumption on-data.
    *     Buckets are distinct-names-per-key (vocabulary-shaped);
    *     oversized buckets take `allBucketPairs`' distributed overflow
    *     join, never an m² row;
    *  3. survivors expand back through two (name, block) equi-joins —
    *     the expansion IS the output size, the irreducible cost.
    * The naive alternative (equi-join on a low-cardinality block key
    * with the kernel in the condition) is quadratic in block size:
    * 10.9s at sf0.1 on 25 brand blocks vs <2s for this shape, and
    * ~3·10¹¹ kernel calls per block at sf100.
    */
  def jaroWinklerPairs(
      df: DataFrame,
      nameCol: String,
      idCol: String,
      blockCol: String,
      thresholdNum: Int,
      thresholdDen: Int,
      maxBucketSize: Int = 1024
  ): DataFrame = {
    import graft.functions.StringSimFunctions
    val names = df
      .select(col(nameCol).as("n"))
      .filter(col("n").isNotNull && length(col("n")) > 0)
      .distinct()
    val keyed = names
      .withColumn("ws", array_sort(split(col("n"), " ")))
      .select(col("n"), explode(array_distinct(concat(
        array(array_join(col("ws"), " ")),
        transform(sequence(lit(1), size(col("ws"))),
          i => array_join(concat(
            slice(col("ws"), lit(1), i - 1),
            slice(col("ws"), i + 1, size(col("ws")))), " "))))).as("k"))
    val buckets = keyed.groupBy("k")
      .agg(sort_array(collect_set(col("n"))).as("ns"))
      .filter(size(col("ns")) > 1)
    val simCross = allBucketPairs(buckets, Seq("k"), "ns", maxBucketSize)
      .select(col("a").as("n1"), col("b").as("n2")).distinct()
      .withColumn("jw", StringSimFunctions.jaroWinklerParts(col("n1"), col("n2")))
      .filter(element_at(col("jw"), 1) * thresholdDen >=
        element_at(col("jw"), 2) * thresholdNum)
      .select(col("n1"), col("n2"),
        round(element_at(col("jw"), 1).cast("double") /
          element_at(col("jw"), 2).cast("double"), 6).as("similarity"))
    // identical non-empty names score exactly 1 (m=l, t=0, full boost)
    val simSelf = names.select(col("n").as("n1"), col("n").as("n2"),
      lit(1.0).as("similarity"))
    // both orders for cross-name pairs so the id-level a<b filter below
    // keeps each unordered pair exactly once regardless of which name
    // holds the smaller id
    val sim = simCross
      .unionByName(simSelf)
      .unionByName(simCross.select(col("n2").as("n1"), col("n1").as("n2"), col("similarity")))
    val a = df.select(col(blockCol).as("blk"), col(idCol).as("a_id"), col(nameCol).as("n1"))
    val b = df.select(col(blockCol).as("blk"), col(idCol).as("b_id"), col(nameCol).as("n2"))
    a.join(sim, "n1")
      .join(b, Seq("blk", "n2"))
      .filter(col("a_id") < col("b_id"))
      .select(col("blk"), col("a_id"), col("b_id"), col("similarity"))
  }

  /** Docs to drop under greedy keep-smallest-id near-dup policy. */
  def minhashDropIds(
      df: DataFrame,
      textCol: String,
      idCol: String,
      threshold: Double,
      shingleSize: Int = 3,
      numBands: Int = 8,
      rowsPerBand: Int = 4): DataFrame =
    minhashDupPairs(df, textCol, idCol, threshold, shingleSize, numBands, rowsPerBand)
      .select(col("b_id").as("drop_id")).distinct()

  /** Per-doc 64-bit SimHash via the native `SimHash64` expression: one
    * map-side projection, no explode/groupBy shuffle, tight precompiled
    * loop (SketchKernels.simhash — int counters, so the round-1 16-bit
    * lane-overflow caveat is gone). Output: (id, sig long).
    */
  def simhashSignatures(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.select(
      col(idCol).as("id"),
      GraftColumns.column(SimHash64(GraftColumns.expression(tokens(col(textCol))))).as("sig"))

  /** SimHash near-dup pairs: band the 64-bit signature into 4×16-bit
    * chunks (any exact chunk match → candidate; guarantees recall for
    * hamming ≤ 3), verify hamming ≤ maxHamming. Signatures ride along in
    * the collect_list buckets, so no verify join is needed at all.
    */
  def simhashDupPairs(
      df: DataFrame,
      textCol: String,
      idCol: String,
      maxHamming: Int = 3,
      maxBucketSize: Int = 256
  ): DataFrame = {
    val sigs = simhashSignatures(df, textCol, idCol)
    val banded = sigs.select(
      struct(col("id"), col("sig")).as("rec"),
      explode(array((0 until 4).map(j =>
        struct(lit(j).as("chunk_idx"), shiftright(col("sig"), 16 * j).bitwiseAND(0xffffL).as("chunk"))): _*)).as("cx")
    )
    val buckets = banded
      .groupBy(col("cx.chunk_idx").as("chunk_idx"), col("cx.chunk").as("chunk"))
      .agg(sort_array(collect_list(col("rec"))).as("recs"))
    allBucketPairs(buckets, Seq("chunk_idx", "chunk"), "recs", maxBucketSize)
      .select(
        col("a.id").as("a_id"), col("b.id").as("b_id"),
        col("a.sig").as("sig_a"), col("b.sig").as("sig_b"))
      .distinct()
      .withColumn("hamming", bit_count(col("sig_a").bitwiseXOR(col("sig_b"))))
      .filter(col("hamming") <= maxHamming)
      .select("a_id", "b_id", "hamming")
  }

  /** Blocked n-gram Jaccard dedup (engine-portable variant): block on
    * blockCols, generate within-block pairs, verify Jaccard ≥ τ against
    * shingle sets materialized before the join. Fully SQL-expressible.
    */
  /** @param pairFilter extra predicate over `a.*`/`b.*` carried columns
    *        (e.g. a length-proximity guard) applied BEFORE the Jaccard
    *        verify — high-Jaccard pairs are necessarily similar in length,
    *        so this prunes most of the within-block pair enumeration.
    * @param carryCols columns (from df) kept on each side for pairFilter
    */
  def blockedJaccardPairs(
      df: DataFrame,
      textCol: String,
      idCol: String,
      blockCols: Seq[Column],
      threshold: Double,
      shingleSize: Int = 3,
      carryCols: Seq[String] = Seq.empty,
      pairFilter: Column = lit(true)
  ): DataFrame = {
    val blocked = df.select(
      Seq(col(idCol).as("id"),
        hashedShingleSet(col(textCol), shingleSize).as("sh"),
        struct(blockCols: _*).as("block")) ++ carryCols.map(col): _*)
    blocked.as("a")
      .join(blocked.as("b"),
        col("a.block") === col("b.block") && col("a.id") < col("b.id") && pairFilter)
      .withColumn("jaccard", jaccardSets(col("a.sh"), col("b.sh")))
      .filter(col("jaccard") >= threshold)
      .select(col("a.id").as("a_id"), col("b.id").as("b_id"), col("jaccard"))
  }

  /** EXACT Jaccard self-join via prefix filtering (AllPairs / SSJoin —
    * Bayardo et al. WWW'07, Chaudhuri et al. ICDE'06): order every doc's
    * shingle set by GLOBAL rarity (corpus document frequency asc, hash
    * asc) and join only on each doc's first |s| − ⌈τ·|s|⌉ + 1 shingles.
    * If J(A,B) ≥ τ then |A∩B| ≥ ⌈τ·max(|A|,|B|)⌉, and by the prefix
    * lemma the two rarity-prefixes must share ≥1 shingle — so unlike
    * MinHash-LSH this candidate generator has ZERO false negatives (no
    * probabilistic recall bound) while still joining only on RARE keys:
    * the corpus-hot shingles are precisely the ones the prefixes exclude,
    * which kills the boilerplate-shingle hot bucket by construction.
    * Exact Jaccard is then verified from the full materialized sets, so
    * the output is literally the quadratic pair set.
    *
    * ⌈τ·n⌉ is computed in integer arithmetic ((n·round(τ·10⁶)+10⁶−1) div
    * 10⁶) — a double multiply that rounds up past an integer boundary
    * would silently shorten a prefix and drop pairs.
    */
  def prefixFilterJaccardPairs(
      df: DataFrame,
      textCol: String,
      idCol: String,
      threshold: Double,
      shingleSize: Int = 3,
      maxBucketSize: Int = 256
  ): DataFrame = {
    val tn = math.round(threshold * 1e6)
    val docs = df
      .select(col(idCol).as("id"), hashedShingleSet(col(textCol), shingleSize).as("sh"))
      .filter(size(col("sh")) > 0)
      // consumed 3×: prefix generation + both verify sides — EAGER
      // because those consumers' stages launch concurrently; a lazy
      // checkpoint raced its first materialization and re-ran the
      // shingling per branch (measured 3× the scan CPU)
      .transform(Ckpt.eagerCkpt)
    val dfreq = docs.select(explode(col("sh")).as("g"))
      .groupBy("g").agg(count(lit(1)).as("df"))
    val prefixes = docs
      .select(col("id"), size(col("sh")).as("n"), explode(col("sh")).as("g"))
      .join(dfreq, Seq("g")) // co-partitioned on g with dfreq's agg output
      .groupBy("id", "n")
      .agg(sort_array(collect_list(struct(col("df"), col("g")))).as("ord"))
      .withColumn("plen", (col("n") - expr(s"(n * ${tn}L + 999999) div 1000000") + 1).cast("int"))
      .select(col("id"), explode(expr("transform(slice(ord, 1, plen), x -> x.g)")).as("g"))
    val buckets = prefixes
      .groupBy("g").agg(sort_array(collect_list(struct(col("id")))).as("recs"))
    val cands = allBucketPairs(buckets, Seq("g"), "recs", maxBucketSize)
      .select(col("a.id").as("a_id"), col("b.id").as("b_id"))
      .distinct()
    // Explicit pair-keyed repartitions before the verify joins: the
    // exact-Jaccard verify is per-PAIR compute-bound (two ~n-element
    // array ops per row) while the bare pair list is bytes-tiny, so
    // AQE's byte-based coalesce planned both attach joins at 1 task
    // (measured 5.3 s serial of this query's 6.7 s at sf0.1).
    // REPARTITION_BY_NUM shuffles are exempt from AQE coalescing;
    // defaultParallelism keeps the fan-out scale-adaptive (guide §2.5:
    // partition by the unit of WORK, not bytes).
    val par = docs.sparkSession.sparkContext.defaultParallelism
    cands
      .repartition(par, col("a_id"))
      .join(docs.select(col("id").as("a_id"), col("sh").as("sha")), Seq("a_id"))
      .repartition(par, col("b_id"))
      .join(docs.select(col("id").as("b_id"), col("sh").as("shb")), Seq("b_id"))
      .withColumn("jaccard", jaccardSets(col("sha"), col("shb")))
      .filter(col("jaccard") >= threshold)
      .select(col("a_id"), col("b_id"), round(col("jaccard"), 4).as("jaccard"))
  }

  /** Winnowing fingerprints (Schleimer, Wilkerson & Aiken, SIGMOD'03 —
    * the MOSS local fingerprinting scheme): over each document's
    * positioned word k-gram hashes, every window of w consecutive grams
    * selects its minimum hash (RIGHTMOST position on ties); the distinct
    * selected (position, hash) pairs are the document's fingerprint.
    *
    * GUARANTEE (the reason winnowing exists next to MinHash): any shared
    * token run of length ≥ w+k-1 between two documents selects at least
    * one COMMON gram hash in both — detection of long-enough matches is
    * certain, not probabilistic, while keeping only ~2/(w+1) of grams.
    * MinHash (row 36) answers "how similar are two whole documents";
    * winnowing answers "do these documents share any sufficiently long
    * passage" — the plagiarism/code-clone/license-text question.
    *
    * Shape: one projection per gram (md5 exactly once per gram — the
    * positioned rows come from posexplode, never a HOF that Catalyst
    * could re-inline per window), one shuffle on the doc id for the
    * per-doc selection windows (frames are w rows, docs bounded — never
    * a global window). The min-selection key packs (hash, position)
    * into ONE BIGINT — hash·2²¹ + (2²¹−1−pos) — so rightmost-tie-break
    * argmin is a plain MIN any engine replays exactly; 40-bit hashes
    * keep the packed key under 2⁶¹ (a collision only merges two
    * fingerprints — candidates stay a superset, and the oracle replays
    * the identical arithmetic, so exactness is unaffected).
    * Contract: per-document gram count < 2²¹ (a 2M-token document; the
    * chunking row splits longer ones upstream).
    */
  def winnowFingerprints(
      df: DataFrame,
      textCol: String,
      idCol: String,
      k: Int = 4,
      w: Int = 4
  ): DataFrame = {
    require(k >= 1 && w >= 1, "winnowing needs k >= 1 and w >= 1")
    val posCap = 1L << 21
    val grams = df.select(
      col(idCol).as("id"),
      posexplode(shinglesFromTokens(tokens(col(textCol)), k)).as(Seq("pos", "gram")))
    val keyed = grams.select(
      col("id"),
      col("pos"),
      (conv(substring(md5(col("gram")), 1, 10), 16, 10).cast("long") * posCap +
        (lit(posCap - 1) - col("pos"))).as("key"))
    val wSel = Window.partitionBy("id").orderBy("pos")
      .rowsBetween(Window.currentRow, w - 1)
    val wDoc = Window.partitionBy("id")
    keyed
      .withColumn("sel", min(col("key")).over(wSel))
      .withColumn("n_g", count(lit(1)).over(wDoc))
      // valid window starts only: pos ≤ n_g − w (frames past the end are
      // sub-windows of the last full one); a doc with fewer than w grams
      // keeps its single all-grams window at pos 0
      .filter(col("pos") <= greatest(col("n_g") - w, lit(0)))
      .select(
        col("id"),
        (lit(posCap - 1) - pmod(col("sel"), lit(posCap))).as("fp_pos"),
        expr(s"sel div $posCap").as("fp_hash"))
      .distinct()
  }

  /** Shared-passage candidate pairs from winnowing fingerprints: docs
    * sharing ≥ minShared distinct fingerprint HASHES, with the shared
    * count. By the winnowing guarantee, every doc pair sharing a token
    * run of ≥ w+k-1 appears (for minShared = 1). One shuffle on the
    * fingerprint hash; pairs generated within hash buckets (overflow
    * join above maxBucketSize — boilerplate fingerprints shared by half
    * the corpus never materialize m² structs in one task); final count
    * is a partial-agg groupBy on the pair.
    */
  def winnowDupPairs(
      df: DataFrame,
      textCol: String,
      idCol: String,
      k: Int = 4,
      w: Int = 4,
      minShared: Int = 2,
      maxBucketSize: Int = 64
  ): DataFrame =
    winnowDupPairsOf(
      winnowFingerprints(df, textCol, idCol, k, w).select(col("fp_hash"), col("id")),
      minShared, maxBucketSize)

  /** [[winnowDupPairs]] over a PRECOMPUTED `(fp_hash, id)` fingerprint
    * frame (r15 shared-fingerprint entry): winnowing selection is a pure
    * per-document function of the text, so a batch's fingerprints can be
    * computed once and feed both the index probe and the within-batch
    * pair generation — fps(subset) ≡ fps(all).filter(id ∈ subset). */
  def winnowDupPairsOf(
      fps: DataFrame,
      minShared: Int = 2,
      maxBucketSize: Int = 64
  ): DataFrame = {
    val buckets = fps
      .select(col("fp_hash"), col("id"))
      .distinct()
      .groupBy("fp_hash")
      .agg(sort_array(collect_list(col("id"))).as("ids"))
    allBucketPairs(buckets, Seq("fp_hash"), "ids", maxBucketSize)
      .groupBy(col("a").as("a_id"), col("b").as("b_id"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Near-dup pair EXPLAINABILITY (SURVEY row 343, CLI-surfaced round
    * 12): winnow-linked pairs annotated with WHERE they overlap —
    * shared selected fingerprints whose position offset is constant
    * (diag = posA − posB) trace one contiguous shared run, so the best
    * diagonal's extent (max−min+k tokens) is the passage-length
    * evidence a reviewer reads before trusting a drop. Pair-gen for
    * the position pairs rides the guarded in-bucket machinery
    * (boilerplate hashes shared corpus-wide never materialize m² in
    * one task); the linked-pair set comes from the same guarded
    * [[winnowDupPairs]] the dedup uses, so the report covers exactly
    * the pairs that link. */
  def winnowSharedSpanEvidence(
      docs: DataFrame,
      textCol: String,
      idCol: String,
      k: Int = 4,
      w: Int = 4,
      minShared: Int = 2,
      maxBucketSize: Int = 64
  ): DataFrame = {
    val fps = winnowFingerprints(docs, textCol, idCol, k, w)
    val buckets = fps
      .select(col("fp_hash"), struct(col("id"), col("fp_pos")).as("item"))
      .groupBy("fp_hash").agg(sort_array(collect_list(col("item"))).as("items"))
    val posPairs = boundedBucketPairs(buckets, Seq("fp_hash"), "items", maxBucketSize)
      .select(col("a.id").as("a_id"), col("a.fp_pos").as("pa"),
        col("b.id").as("b_id"), col("b.fp_pos").as("pb"))
      .filter(col("a_id") < col("b_id"))
    val diags = posPairs
      .groupBy(col("a_id"), col("b_id"), (col("pa") - col("pb")).as("diag"))
      .agg(count(lit(1)).as("diag_cnt"),
        (max(col("pa")) - min(col("pa")) + lit(k.toLong)).as("span_tokens"))
    val win = Window.partitionBy("a_id", "b_id")
      .orderBy(col("span_tokens").desc, col("diag_cnt").desc, col("diag").asc)
    val best = diags.withColumn("rk", row_number().over(win)).filter(col("rk") === 1)
    winnowDupPairs(docs, textCol, idCol, k, w, minShared, maxBucketSize)
      .join(best, Seq("a_id", "b_id"))
      .select(col("a_id"), col("b_id"), col("n_shared"),
        col("diag"), col("diag_cnt"), col("span_tokens"))
  }

  /** b-bit MinHash estimation audit (Li & König WWW'10, b = 1): how well
    * does keeping only the LOWEST BIT of each of `m` MinHash values — a
    * 64×-compressed signature, the storage trick that makes
    * billion-doc signature tables fit — estimate Jaccard on real dup
    * pairs? For b=1 the estimator is Ĵ = 2·(agree/m) − 1 (E[agree] =
    * (1+J)/2 as the universe grows). Pairs come from the standard
    * recall-complete band candidates + exact verify
    * ([[minhashDupPairs]]); the audited signatures are md5-derived
    * (hash_i = md5(i ":" shingle), min over the doc's shingles) so the
    * DuckDB twin replays every bit. Returns per pair
    * (a_id, b_id, n_agree, est_jaccard, exact_jaccard, abs_err) —
    * est_jaccard = (2·n_agree − m)/m is exact in binary for m a power
    * of two, so only the jaccard ratio is rounded.
    *
    * Scale: signatures are computed ONLY for docs that appear in a
    * verified pair (semi-join first); the explode is |pair docs| ×
    * shingles × m, partial-aggregated to (id, i) minima — the corpus
    * itself is touched once by the candidate pass.
    */
  def bbitMinhashEval(
      docs: DataFrame,
      textCol: String,
      idCol: String,
      threshold: Double = 0.7,
      shingleSize: Int = 2,
      numBands: Int = 32,
      rowsPerBand: Int = 3,
      m: Int = 32
  ): DataFrame = {
    val pairs = minhashDupPairs(docs, textCol, idCol, threshold, shingleSize,
        numBands, rowsPerBand)
      .select(col("a_id"), col("b_id"))
      .transform(Ckpt.lazyCkpt) // feeds the id set + both final joins
    val ids = pairs.select(col("a_id").as("id"))
      .unionByName(pairs.select(col("b_id").as("id"))).distinct()
    val sh = docs.join(ids, docs(idCol) === ids("id"), "left_semi")
      .select(col(idCol).as("id"),
        shinglesFromTokens(tokens(col(textCol)), shingleSize).as("gs"))
      .transform(Ckpt.lazyCkpt) // feeds bit sigs AND exact-jaccard sets
    val bits = sh.select(col("id"), explode(col("gs")).as("g"))
      .select(col("id"), col("g"), explode(sequence(lit(0), lit(m - 1))).as("i"))
      .select(col("id"), col("i"),
        conv(substring(md5(concat(col("i").cast("string"), lit(":"), col("g"))), 1, 15),
          16, 10).cast("long").as("hv"))
      .groupBy("id", "i")
      .agg(min("hv").as("mh"))
      .select(col("id"), col("i"), pmod(col("mh"), lit(2L)).cast("int").as("bit"))
      .groupBy("id")
      .agg(transform(sort_array(collect_list(struct(col("i"), col("bit")))),
        e => e.getField("bit")).as("bits"))
    val sets = sh.select(col("id"), array_distinct(col("gs")).as("s"))
    pairs
      .join(bits.select(col("id").as("a_id"), col("bits").as("a_bits")), Seq("a_id"))
      .join(bits.select(col("id").as("b_id"), col("bits").as("b_bits")), Seq("b_id"))
      .join(sets.select(col("id").as("a_id"), col("s").as("a_s")), Seq("a_id"))
      .join(sets.select(col("id").as("b_id"), col("s").as("b_s")), Seq("b_id"))
      .select(col("a_id"), col("b_id"),
        aggregate(zip_with(col("a_bits"), col("b_bits"),
            (x, y) => when(x === y, 1L).otherwise(0L)),
          lit(0L), (s, e) => s + e).as("n_agree"),
        round(size(array_intersect(col("a_s"), col("b_s"))).cast("double")
          / size(array_union(col("a_s"), col("b_s"))), 6).as("exact_jaccard"))
      .withColumn("est_jaccard",
        (col("n_agree") * 2 - m).cast("double") / lit(m.toDouble))
      .withColumn("abs_err", round(abs(col("est_jaccard") - col("exact_jaccard")), 6))
      .select("a_id", "b_id", "n_agree", "est_jaccard", "exact_jaccard", "abs_err")
      .orderBy("a_id", "b_id")
  }

  /** EXACT tf-vector cosine similarity join (the dedup_tf_cosine core):
    * candidates from shared RARE word 3-grams (df ≤ maxDf inverted
    * index — the containment-blocking contract: common shingles never
    * generate pairs), then the FULL dot product in integer tf arithmetic
    * over two keyed posting joins, norms from per-doc Σtf². The one
    * division per pair is the only FP op, so pairs replay bit-for-bit
    * against a quadratic oracle. Shuffles: df agg + posting semi +
    * candidate join + dot agg — all keyed, no self-cartesian; pair count
    * is bounded by the df cap (ScaleProbe `tf_cosine` certifies per-row
    * flatness at 10×).
    */
  def tfCosinePairs(
      docs: DataFrame,
      textCol: String,
      idCol: String,
      maxDf: Int = 20,
      shingleSize: Int = 3,
      threshold: Double = 0.9
  ): DataFrame = {
    val par = docs.sparkSession.sparkContext.defaultParallelism
    // Per-doc sorted (token, tf) array + Σtf², ONE frame serving both
    // pair sides. The dot was previously a pairs×terms posting join +
    // SUM through two Exchanges (~|pairs|·|terms/doc| rows — 1.1M at
    // sf0.1, the suite's top cost); attaching the sorted term vector
    // per side and merging in-row (native TfDotProduct) is the same
    // integer arithmetic with no posting shuffle at all (guide §2.3:
    // aggregate before you shuffle / §8: move small proxies, not rows).
    // Arrays are bounded by per-document token count (per-entity key).
    val tvecs = CorpusOps.docTermCounts(docs, idCol, textCol)
      .withColumnRenamed(idCol, "doc_id")
      .groupBy("doc_id")
      .agg(sort_array(collect_list(struct(col("token"), col("tf")))).as("ts"),
        sum(col("tf") * col("tf")).as("n2"))
      // EAGER: the two attach sides build their broadcast/shuffle inputs
      // concurrently — a lazy checkpoint races its first materialization
      // and tokenizes the corpus twice
      .transform(Ckpt.eagerCkpt)
    val sh = docs.select(col(idCol).as("doc_id"),
      explode(array_distinct(shingles(col(textCol), shingleSize))).as("g"))
      // EAGER for the same reason: the df agg and the postings side are
      // concurrent AQE stages
      .transform(Ckpt.eagerCkpt)
    val rare = sh.groupBy("g").agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf)
    val postings = sh.join(rare.select("g"), Seq("g"), "left_semi")
    // pairs INSIDE g-buckets via the guarded collect/expand core (one
    // exchange on g) instead of a postings self-join (two g exchanges +
    // a join); rare-bucket sizes are ≤ maxDf by construction, so every
    // bucket takes the in-row path and the pair set is identical
    val buckets = postings.groupBy("g")
      .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
    val cands = allBucketPairs(buckets, Seq("g"), "ids", math.max(maxDf, 2))
      .select(col("a").as("a_id"), col("b").as("b_id"))
      .distinct()
    // Explicit pair-keyed repartitions: the verify is per-PAIR compute-
    // bound while the bare pair list is bytes-tiny, so AQE's byte-based
    // coalesce would plan the attach joins near-serial. REPARTITION_BY_NUM
    // is exempt from coalescing; defaultParallelism keeps it scale-adaptive.
    cands
      .repartition(par, col("a_id"))
      .join(tvecs.select(col("doc_id").as("a_id"), col("ts").as("ta"), col("n2").as("n2a")),
        Seq("a_id"))
      .repartition(par, col("b_id"))
      .join(tvecs.select(col("doc_id").as("b_id"), col("ts").as("tb"), col("n2").as("n2b")),
        Seq("b_id"))
      .select(col("a_id"), col("b_id"),
        (tfDot(col("ta"), col("tb")).cast("double") /
          (sqrt(col("n2a").cast("double")) * sqrt(col("n2b").cast("double"))))
          .as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** Native in-row integer dot of two sorted (token, tf) term arrays —
    * see [[graft.functions.TfDotProduct]]. */
  private def tfDot(a: Column, b: Column): Column =
    GraftColumns.column(graft.functions.TfDotProduct(
      GraftColumns.expression(a), GraftColumns.expression(b)))
}
