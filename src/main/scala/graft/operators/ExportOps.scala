package graft.operators

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic training-data shuffle + chunked export: the step after
  * packing (PackingOps) that turns a curated corpus into a training run's
  * input — a SEEDED global permutation, engine-portable and reproducible
  * anywhere, chopped into fixed-size files so any reader sees the same
  * batch order.
  *
  * Permutation key = md5(seed ":" id): a keyed pseudo-random total order
  * any engine can replicate (same idiom as SplitOps' md5-grain splits —
  * no rand(), no partition-order dependence). The global POSITION is
  * computed scalably: a global `row_number()` window would funnel 100 TB
  * through one partition, so instead
  *   (1) rows bucket by the first `bucketHexChars` of the key — the
  *       bucket prefix order IS the key order's prefix, so bucket-major
  *       ordering equals global ordering;
  *   (2) `row_number` ranks within each bucket (4096-way parallel);
  *   (3) per-bucket counts (one column-pruned pass) turn into bucket
  *       offsets via a tiny 4096² self-join — no global window, no
  *       single-partition stage, no driver collect;
  *   (4) position = bucket offset + in-bucket rank, broadcast-joined back.
  */
object ExportOps {

  /** Append a 1-based global permutation position (`outCol`) ordered by
    * md5(seed ":" id), ties broken by id. Deterministic across engines,
    * partitionings, and re-runs — PROVIDED ids are unique and non-null:
    * duplicate ids share a sort key with an unresolvable tie, and
    * concat_ws drops a NULL id so every null row would collide on
    * md5(seed) (validate upstream; a full uniqueness scan here would
    * double the operator's cost for a contract the caller owns).
    *
    * The input must also be DETERMINISTIC under re-evaluation: the rank
    * pass and the (column-pruned) bucket-count pass scan it once each,
    * and a frame derived from `sample`/`limit`/`rand` can disagree
    * between the two scans — wrong offsets, silently duplicated or
    * skipped positions. Either pass such a frame through
    * `materializeInput = true` (one localCheckpoint, both passes read
    * the pinned blocks) or materialize it upstream.
    */
  def permutation(
      df: DataFrame,
      idCol: String,
      seed: String,
      outCol: String = "pos",
      bucketHexChars: Int = 3,
      materializeInput: Boolean = false
  ): DataFrame = {
    val src = if (materializeInput) df.transform(Ckpt.lazyCkpt) else df
    val reserved = Set("__k", "__b", "__r", "__n", "__off")
    val clash = df.columns.filter(c => reserved(c))
    require(clash.isEmpty,
      s"permutation: input columns collide with reserved helper names: ${clash.mkString(", ")}")
    require(!df.columns.contains(outCol),
      s"permutation: outCol '$outCol' already exists in the input")
    require(bucketHexChars >= 1 && bucketHexChars <= 8, "bucketHexChars in [1,8]")
    val key = md5(concat_ws(":", lit(seed), col(idCol).cast("string")))
    val keyed = src.withColumn("__k", key).withColumn("__b", substring(col("__k"), 1, bucketHexChars))
    val ranked = keyed
      .withColumn("__r", row_number().over(Window.partitionBy("__b").orderBy(col("__k"), col(idCol))))
    // per-bucket counts: a second, column-pruned pass over (id only) —
    // cheaper than materializing the keyed corpus just to count buckets
    // (with materializeInput both passes read the same pinned blocks)
    val counts = src.select(substring(key, 1, bucketHexChars).as("__b"))
      .groupBy("__b").agg(count(lit(1)).as("__n"))
    // offsets without a global window (the zorder lesson: Window.orderBy
    // with no partition funnels everything through one partition and
    // warns in the log): a ≤4096² broadcast self-join running-sum
    val offs = counts.as("x")
      .join(counts.as("y"), col("y.__b") < col("x.__b"), "left")
      .groupBy(col("x.__b"))
      .agg(coalesce(sum(col("y.__n")), lit(0L)).as("__off"))
    ranked
      .join(broadcast(offs), "__b")
      .withColumn(outCol, col("__off") + col("__r"))
      .drop("__k", "__b", "__r", "__off")
  }

  /** Shuffle `df` by the seeded permutation and write it chunked: file k
    * holds positions [k·rowsPerFile+1, (k+1)·rowsPerFile], sorted, ONE
    * file per chunk — so a training reader streaming chunk 0, 1, 2, …
    * reproduces the exact batch order on any engine, any day.
    * Returns the chunked frame (id, pos, chunk + original columns).
    */
  def exportShuffled(
      df: DataFrame,
      idCol: String,
      seed: String,
      dir: String,
      rowsPerFile: Long,
      bucketHexChars: Int = 3
  ): DataFrame = {
    require(rowsPerFile > 0, "rowsPerFile must be positive")
    require(!df.columns.contains("chunk"),
      "exportShuffled: input column 'chunk' collides with the chunk-file column")
    val p = permutation(df, idCol, seed, bucketHexChars = bucketHexChars)
    // `div` (not `/`) — exact long division past 2^53 positions
    val chunked = p.withColumn("chunk", expr(s"(pos - 1) div $rowsPerFile"))
    chunked
      .repartition(col("chunk"))
      .sortWithinPartitions("chunk", "pos")
      .write.mode(SaveMode.Overwrite).partitionBy("chunk").parquet(dir)
    chunked
  }

  /** Per-chunk integrity stats of an exported dataset: row count,
    * position range, and an order-independent content fingerprint
    * (bit_xor of xxhash64(pos, id) — commutative, so partition order
    * cannot change it; NOT cross-engine portable, and doesn't need to
    * be: it ties a manifest to THIS export's bytes).
    */
  def chunkStats(data: DataFrame, idCol: String): DataFrame =
    data.groupBy(col("chunk").cast("long").as("chunk"))
      .agg(count(lit(1)).as("n"), min("pos").as("min_pos"), max("pos").as("max_pos"),
        expr(s"bit_xor(xxhash64(pos, $idCol))").as("fp"))

  /** [[exportShuffled]] + an atomically COMMITTED manifest — the batch
    * twin of the streaming exactly-once sink: a training run must never
    * read a half-written snapshot. Layout:
    *   dir/data/chunk=k/…  the shuffled corpus (exportShuffled)
    *   dir/manifest/       per-chunk (n, min_pos, max_pos, fp) — written
    *                       DISTRIBUTED (json), so a 10⁶-chunk manifest
    *                       never funnels through the driver. NOT
    *                       underscore-prefixed: data lives under its own
    *                       dir/data subtree so there is nothing to hide
    *                       from, and `_`-named paths trip Spark's
    *                       hidden-file filter (a WARN per read, and a
    *                       reader passing dir/_manifest explicitly would
    *                       race the filter's semantics)
    *   dir/_COMMIT         one-line totals marker, published last
    *                       with [[graft.io.PointerFile.publish]] (a temp
    *                       sibling renamed over it) — readers treat its
    *                       presence as the commit point. The marker goes
    *                       through the session's Hadoop filesystem (the
    *                       same store the data landed on — local, HDFS,
    *                       s3a, gs), NOT java.nio. The rename is atomic on
    *                       `file:` and HDFS; elsewhere it is a delete, then
    *                       a rename, so a re-export briefly has no marker
    *                       (it reads as uncommitted, never as torn).
    * Stats are computed from the data as WRITTEN (read-back), so the
    * manifest certifies what actually landed, not what was planned.
    */
  def exportWithManifest(
      df: DataFrame,
      idCol: String,
      seed: String,
      dir: String,
      rowsPerFile: Long
  ): Unit = {
    val spark = df.sparkSession
    exportShuffled(df, idCol, seed, s"$dir/data", rowsPerFile)
    val back = spark.read.parquet(s"$dir/data")
    chunkStats(back, idCol).write.mode(SaveMode.Overwrite).json(s"$dir/manifest")
    val t = back.agg(count(lit(1)).as("n_rows"), countDistinct(col("chunk")).as("n_chunks"))
      .collect()(0)
    val marker = s"""{"n_rows":${t.getLong(0)},"n_chunks":${t.getLong(1)},"rows_per_file":$rowsPerFile,"seed":"$seed"}\n"""
    graft.io.PointerFile.publish(new org.apache.hadoop.fs.Path(dir, "_COMMIT"), marker,
      spark.sparkContext.hadoopConfiguration)
  }
}
