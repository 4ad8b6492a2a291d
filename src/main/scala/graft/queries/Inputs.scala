package graft
package queries

import graft.functions.{ExactSum, TextFunctions, VectorFunctions}
import graft.operators._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Inputs shared by the query families, each declared once.
  *
  * Conventions that make the DuckDB oracle hash-match exactly:
  *  - money/qty aggregates: cast each term to DECIMAL before SUM (exact,
  *    order-independent), final cast to a fixed DECIMAL type both sides;
  *  - ratios: raw doubles (identical IEEE arithmetic both sides);
  *  - every query ends in an ORDER BY on a unique key;
  *  - every computed column is aliased identically in Spark and SQL.
  */
object Inputs {

  /** One query: (session, sf directory) → result frame. */
  type Query = (SparkSession, String) => DataFrame

  def T(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** events reader, adaptive to the table's physical `ts` type — the
    * driver has shipped both µs TIMESTAMP / TIMESTAMP_NTZ (current) and
    * TIMESTAMP(NANOS)-as-INT64 (legacy, readable only behind the
    * nanosAsLong flag, which is set ONLY when that path is taken).
    * Normalizes to the two columns every event-time query uses:
    * `ts` TimestampType (µs instant) and `ts_us` BIGINT µs-since-epoch —
    * the same value DuckDB's `epoch_us(CAST(ts AS TIMESTAMP))` yields on
    * the same file. All graft sessions pin spark.sql.session.timeZone=UTC,
    * so the NTZ→timestamp cast is the naive-as-UTC reading DuckDB uses. */
  def EV(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType => TsType}
    val path = s"$dir/events.parquet"
    val raw =
      try s.read.parquet(path)
      catch {
        case e: Exception if String.valueOf(e.getMessage).contains("NANOS") =>
          s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
          s.read.parquet(path)
      }
    raw.schema("ts").dataType match {
      case LongType => // ns since epoch; truncate to µs like DuckDB's NS→US cast
        raw.withColumn("ts_us", expr("ts div 1000"))
          .withColumn("ts", timestamp_micros(col("ts_us")))
      case TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast(TsType))
          .withColumn("ts_us", unix_micros(col("ts")))
      case _ => // already a µs instant
        raw.withColumn("ts_us", unix_micros(col("ts")))
    }
  }

  /** An event's UTC day number: `ts_us` µs since epoch, integer-divided by µs per day. */
  def eventDay: Column = expr("ts_us div 86400000000")

  /** Compute-heavy scans over the documents/embeddings tables: when the
    * input lacks natural file parallelism (the testdata tables are ONE
    * parquet file = one scan task), repartition raw rows to the session's
    * parallelism so hashing/vector work uses every core — `Par.spread`'s
    * gate. Queries whose map work needs only some columns project first
    * and call `Par.spread` on the projection, so the spread shuffle
    * carries only those bytes.
    */
  def TP(s: SparkSession, dir: String, name: String): DataFrame = Par.spread(T(s, dir, name))

  /** `(vec_id, vec)`: the embeddings table with each vector as array<double>. */
  def embeddings(s: SparkSession, d: String): DataFrame =
    TP(s, d, "embeddings").select(col("vec_id"), VectorFunctions.asDouble(col("embedding")).as("vec"))

  /** `(doc_id, tk)`: each document's tokens, from its normalized text in
    * a staged select. An alias referenced more than once is not re-inlined
    * by CollapseProject, so the regexp tokenizer runs once per row instead
    * of once per use site and codegen classes stay small (round 1 inlined
    * it up to ~10×/row). */
  def docTokens(docs: DataFrame): DataFrame = normed(docs).select(col("doc_id"), tk)

  /** `(doc_id, norm, tk)`: [[docTokens]] with the normalized text kept. */
  def docNormTokens(docs: DataFrame): DataFrame = normed(docs).select(col("doc_id"), col("norm"), tk)

  private def normed(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), TextFunctions.normText(col("text")).as("norm"))

  private def tk: Column = TextFunctions.tokensFromNorm(col("norm")).as("tk")

  /** SUM of a per-row term, decimal-exact internally (cast term →
    * DECIMAL(18,s), sum — order-independent, bit-exact), emitted as DOUBLE:
    * the decimal→double conversion is correctly rounded and deterministic
    * in both Spark (BigDecimal.doubleValue) and DuckDB, so hashes agree,
    * whereas DECIMAL output canonicalizes differently between a Spark
    * parquet dump and a DuckDB result (the round-1 hash mismatches).
    *
    * The sum is [[graft.functions.ExactSum]]: a double term whose scaled
    * value is below 2⁴⁰ and not within 2⁻¹⁰ of a rounding tie takes a
    * long fast path; every other row (ties, large values, NaN, ±Inf,
    * non-double terms) goes through Spark's own cast, so values and ANSI
    * errors are the cast's (that cast makes NaN and ±Inf null, so they are
    * skipped). Terms add into a 128-bit long accumulator.
    * The total's range is DECIMAL(38,s), wider than the DECIMAL(28,s) of
    * `sum(CAST(term AS DECIMAL(18,s)))`, which threw above it; beyond
    * DECIMAL(38,s) it throws ARITHMETIC_OVERFLOW. */
  def dsum(term: Column, scale: Int): Column = ExactSum(term, scale).cast("double")

  def revenueTerm: Column = col("l_extendedprice") * (lit(1) - col("l_discount"))

  /** Part co-order pairs `(a, b)`, a < b: two parts of one
    * order. GUARDED basket pair-gen over each order's sorted distinct part
    * keys (DedupOps.boundedBucketPairs: in-row for baskets ≤1024, a
    * distributed overflow join above) — never a lineitem×lineitem
    * self-join, never an unbounded m² in-row pair array. */
  def coOrderPartPairs(s: SparkSession, d: String): DataFrame = {
    val baskets = T(s, d, "lineitem")
      .select(col("l_orderkey"), col("l_partkey"))
      .groupBy("l_orderkey")
      .agg(sort_array(array_distinct(collect_list(col("l_partkey")))).as("parts"))
    DedupOps.boundedBucketPairs(baskets, Seq("l_orderkey"), "parts")
  }

  /** Weighted part co-order edges (a < b, w = orders containing both
    * parts) — shared by the Louvain rows. */
  def coOrderPartEdges(s: SparkSession, d: String): DataFrame =
    coOrderPartPairs(s, d).groupBy("a", "b").agg(count(lit(1)).cast("long").as("w"))

  /** v'ᵢ = vᵢ + 0.05·v₍ᵢ₊ₖ mod d₎ with ids offset — the near-dup
    * synthesis shared by the semantic-dedup queries. O(d): rotate by
    * slice/concat + one zip_with (the earlier per-element `element_at`
    * shape was O(d²) per row AND got re-inlined downstream — measured
    * ~21 ms/row); arithmetic is the plain add/mul order both engines
    * reproduce. */
  def shiftPerturb(df: DataFrame, shift: Int, idOffset: Long): DataFrame = {
    val dim = 64
    df.withColumn("vec_id", col("vec_id") + idOffset)
      .withColumn("vec", zip_with(
        col("vec"),
        concat(slice(col("vec"), shift + 1, dim - shift), slice(col("vec"), 1, shift)),
        (x, y) => x + lit(0.05) * y))
  }

  /** The corpus near-duplicate pair contract of every query that pairs
    * near-dup `documents.text`: Jaccard ≥ 0.7 over word 2-shingles,
    * MinHash-banded with 32 bands × 3 rows. The banding recall at j ≥ 0.7
    * is 1-(1-0.7³)^32 ≈ 1-1.4e-6 per pair, so the verified pair set equals
    * the full quadratic Jaccard pair set the DuckDB oracles compute.
    * rows=2 was too loose: background 2-gram jaccard ≈ 0.1 made ~10% of
    * ALL pairs candidates (measured 91s/1778s CPU at sf0.1). The
    * persisted indexes use 4 buckets. The `*Of` entry points take the
    * `(id, sh)` frame of [[shingles]], which callers pin when they reuse it. */
  object NearDup {
    private val threshold = 0.7
    private val shingleSize = 2
    private val numBands = 32
    private val rowsPerBand = 3
    private val numBuckets = 4

    def shingles(docs: DataFrame): DataFrame = DedupOps.shingleSets(docs, "text", "doc_id", shingleSize)

    def pairs(docs: DataFrame): DataFrame =
      DedupOps.minhashDupPairs(docs, "text", "doc_id", threshold, shingleSize, numBands, rowsPerBand)

    def pairsOf(sh: DataFrame): DataFrame =
      DedupOps.minhashDupPairsOf(sh, threshold, numBands, rowsPerBand)

    // EAGER: the index build's two concurrent writers both read the frame
    def buildIndex(docs: DataFrame, prefix: String): IncrementalDedupOps.IndexTables =
      buildIndexOf(shingles(docs).transform(Ckpt.eagerCkpt), prefix)

    def buildIndexOf(sh: DataFrame, prefix: String): IncrementalDedupOps.IndexTables =
      IncrementalDedupOps.buildIndexOf(sh, prefix, numBuckets, numBands, rowsPerBand)

    def appendToIndexOf(sh: DataFrame, idx: IncrementalDedupOps.IndexTables): Unit =
      IncrementalDedupOps.appendToIndexOf(sh, idx, numBuckets, numBands, rowsPerBand)

    def probe(docs: DataFrame, idx: IncrementalDedupOps.IndexTables): DataFrame =
      probeOf(shingles(docs).transform(Ckpt.lazyCkpt), idx)

    def probeOf(sh: DataFrame, idx: IncrementalDedupOps.IndexTables): DataFrame =
      IncrementalDedupOps.probeOf(sh, idx, threshold, numBands, rowsPerBand)
  }

  /** The recall harness of the ANN queries: the first 8 vectors
    * (vec_id < 8) ask for their k = 5 nearest neighbors, and an index's
    * answer must recall a bar's share of the exact brute-force top-k. The
    * invariant rides as one boolean that the DuckDB oracle states as a
    * constant; exact top-k rows are pinned by the ScalaTest recall specs. */
  object AnnRecall {
    val k = 5

    def queries(vecs: DataFrame): DataFrame = vecs.filter(col("vec_id") < 8)

    /** `(query_id, neighbor_id)`: the exact cosine top-k of `queries`. */
    def exact(vecs: DataFrame, queries: DataFrame): DataFrame =
      SimilarityOps.bruteForceTopK(vecs, queries, "vec_id", "vec", k)
        .select("query_id", "neighbor_id")

    /** Recall of `hits` matched neighbors over the 8 queries' 8·k; the
      * one place the recall invariant's normaliser is written. */
    def recall(hits: Column): Column = hits.cast("double") / (8 * k)

    def ok(bar: Double): Column = recall(col("hits")) >= bar

    /** One row `(n_queries, recall_ok)`: does `got` recall ≥ bar of `truth`? */
    def check(truth: DataFrame, got: DataFrame, bar: Double): DataFrame =
      truth.join(got.select("query_id", "neighbor_id"), Seq("query_id", "neighbor_id"), "left_semi")
        .agg(count(lit(1)).as("hits"))
        .select(lit(8L).as("n_queries"), ok(bar).as("recall_ok"))
  }
}
