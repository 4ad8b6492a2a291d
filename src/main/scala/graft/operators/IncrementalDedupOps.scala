package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Incremental near-duplicate detection: a daily NEW BATCH probed against
  * a PERSISTED index of the already-kept corpus — the most common
  * production dedup shape (crawl delta vs 100 TB of base documents),
  * where re-signaturing the base corpus per batch is the cost to kill.
  *
  * Two index kinds share one contract, each run by ONE step:
  *  - [[minhashIndexDedup]] (whole-doc MinHash) and [[winnowIndexStep]]
  *    (shared-passage winnowing fingerprints) derive the batch's
  *    signatures ONCE — a pinned `(id, sh)` frame ([[DedupOps.shingleSets]])
  *    or `(fp_hash, id)` frame ([[DedupOps.winnowHashes]]) — and that one
  *    frame feeds the probe, the batch's self-dedup and the index fold;
  *  - the index wins: a batch doc that near-dups an indexed doc drops,
  *    whatever the ids;
  *  - the rest of the batch dedups itself keeping the min id;
  *  - the survivors fold into the index for the next batch (the first
  *    run, with no index yet, builds it from the survivors).
  * The `dedup` CLI step, the streaming [[winnowIndexDedupSink]] and the
  * `dedup_winnow_incremental` query all run through these steps.
  *
  * Scale posture (100 TB base, ~GB-scale daily delta):
  *  - the base corpus is signatured ONCE, at index-build time; the MinHash
  *    index is two bucketed catalog tables — `<prefix>_bands` (band_key,
  *    id) bucketed by band_key and `<prefix>_sigs` (id, hashed shingle
  *    set) bucketed by id — so the daily probe job's band join needs NO
  *    Exchange on the index side (the 100 TB side): only the small new
  *    batch shuffles to meet the bucket layout (or broadcasts; AQE picks);
  *  - new×base candidates come from that one band-key join; new×new
  *    candidates reuse the in-bucket pair generation (`allBucketPairs`,
  *    overflow-safe) over the new batch's own band buckets;
  *  - verification joins PRECOMPUTED shingle sets by id (base side from
  *    the sigs table, new side from the batch's pinned frame) — the base
  *    corpus TEXT is never read again.
  *
  * Band parameters are part of the index contract: a probe must use the
  * same (shingleSize, numBands, rowsPerBand) the index was built with —
  * [[DedupOps.withBandKeys]] is shared by both paths so the keys agree.
  */
object IncrementalDedupOps {

  /** Catalog table names of a persisted MinHash index. */
  final case class IndexTables(bands: String, sigs: String)

  /** Build (overwrite) the persisted MinHash index from an `(id, sh)`
    * frame. Two bucketed writes lay out the band table (by band_key — the
    * probe join key) and the signature table (by id — the verify join
    * key). They target INDEPENDENT tables over one frame, so they run
    * concurrently (guide §2.6) instead of serializing two staged swaps;
    * callers hand a frame that is checkpointed or reads only checkpoints
    * (both writers evaluate it). `numBuckets` should target per-task sort
    * memory at the deployment's base-corpus size (see BucketOps scaladoc).
    */
  def buildIndexOf(
      docsSh: DataFrame,
      prefix: String,
      numBuckets: Int,
      numBands: Int,
      rowsPerBand: Int
  ): IndexTables = {
    val t = IndexTables(s"${prefix}_bands", s"${prefix}_sigs")
    writeIndex(docsSh, t, numBuckets, numBands, rowsPerBand, BucketOps.writeBucketed)
    t
  }

  /** Index maintenance: fold an `(id, sh)` frame into the index so the
    * NEXT batch dedups against it too. Rows append WITH the tables' bucket
    * spec (appendBucketed), so the probe-side join stays Exchange-free on
    * the index side after any number of appends. Band parameters must
    * match the original build; the frame contract is [[buildIndexOf]]'s. */
  def appendToIndexOf(
      docsSh: DataFrame,
      index: IndexTables,
      numBuckets: Int,
      numBands: Int,
      rowsPerBand: Int
  ): Unit = writeIndex(docsSh, index, numBuckets, numBands, rowsPerBand, BucketOps.appendBucketed)

  private def writeIndex(
      docsSh: DataFrame,
      t: IndexTables,
      numBuckets: Int,
      numBands: Int,
      rowsPerBand: Int,
      write: (DataFrame, String, Int, Seq[String], Seq[String]) => Unit
  ): Unit = {
    val bands = DedupOps.withBandKeys(docsSh, numBands, rowsPerBand).select("band_key", "id")
    Par.concurrently(
      write(bands, t.bands, numBuckets, Seq("band_key"), Seq("band_key")),
      write(docsSh, t.sigs, numBuckets, Seq("id"), Seq("id")))
  }

  /** Verified near-dup pairs (a_id < b_id, exact Jaccard ≥ threshold)
    * between the batch's `(id, sh)` frame `newDocs` and the indexed base
    * corpus PLUS within the batch itself — i.e. every pair involving at
    * least one new document. The frame should be checkpointed by the
    * caller (it feeds band keys + both verify sides + the disjointness
    * guard). Ids must be disjoint from base ids (same-id re-crawls are
    * filtered from the cross candidates; handle true updates by
    * rebuilding or compacting the index). Band parameters must match the
    * index build.
    *
    * `enforceDisjointIds` (default true) actually checks that contract
    * instead of trusting it: the verify step coalesces the base-table
    * signature first, so a re-crawled id with CHANGED text would be
    * silently scored against its stale base signature — exactly the
    * failure that must surface loudly, not skew thresholds. The check is
    * one semi-join count of the small batch against the id-bucketed sigs
    * table (Exchange-free on the index side); flip off only when an
    * upstream gate already guarantees disjointness and the probe is in a
    * latency-critical path.
    */
  def probeOf(
      newDocs: DataFrame,
      index: IndexTables,
      threshold: Double,
      numBands: Int,
      rowsPerBand: Int,
      maxBucketSize: Int = 64,
      enforceDisjointIds: Boolean = true
  ): DataFrame = {
    val spark = newDocs.sparkSession
    if (enforceDisjointIds) {
      val overlap = newDocs.select("id")
        .join(spark.table(index.sigs).select("id"), Seq("id"), "left_semi")
      val sample = overlap.limit(5).collect().map(_.get(0))
      require(sample.isEmpty,
        s"incremental probe: ${sample.length}+ new-batch ids already exist in index '${index.sigs}' " +
          s"(e.g. ${sample.mkString(", ")}) — re-crawled ids would be verified against their STALE " +
          "base signatures; rebuild or compact the index, or drop the overlapping ids upstream")
    }
    val newBands = DedupOps.withBandKeys(newDocs, numBands, rowsPerBand).select("id", "band_key")
    // new×base: ONE equi-join on band_key; the index side is bucketed on
    // band_key so its scan plans with no Exchange
    val crossCands = newBands.as("n")
      .join(spark.table(index.bands).as("b"), col("n.band_key") === col("b.band_key"))
      .filter(col("n.id") =!= col("b.id"))
      .select(least(col("n.id"), col("b.id")).as("a"), greatest(col("n.id"), col("b.id")).as("b"))
    // new×new: in-bucket pair generation over the batch's own band buckets
    val newBuckets = newBands.groupBy("band_key").agg(sort_array(collect_list(col("id"))).as("ids"))
    val newCands = DedupOps.allBucketPairs(newBuckets, Seq("band_key"), "ids", maxBucketSize)
    val cands = crossCands.unionByName(newCands.select(col("a"), col("b"))).distinct()
    // verify on precomputed shingle sets: base side from the sigs table,
    // new side from the checkpointed batch scan — base text is never
    // re-read. Ids are disjoint across the two sources, so each pair
    // column takes two LEFT joins + coalesce rather than one join against
    // a union: unioning newDocs with the sigs table would discard the
    // table's bucketing and shuffle the full index side per probe, while
    // the left joins keep the sigs scan Exchange-free (the small
    // candidate side shuffles to the bucket layout instead).
    val baseSh = spark.table(index.sigs)
    def attach(pairs: DataFrame, key: String, out: String): DataFrame =
      pairs
        .join(baseSh.select(col("id").as(s"__${key}bi"), col("sh").as(s"__${key}bs")),
          col(key) === col(s"__${key}bi"), "left")
        .join(newDocs.select(col("id").as(s"__${key}ni"), col("sh").as(s"__${key}ns")),
          col(key) === col(s"__${key}ni"), "left")
        .withColumn(out, coalesce(col(s"__${key}bs"), col(s"__${key}ns")))
        .drop(s"__${key}bi", s"__${key}bs", s"__${key}ni", s"__${key}ns")
    attach(attach(cands, "a", "sh_a"), "b", "sh_b")
      .withColumn("jaccard", DedupOps.jaccardSets(col("sh_a"), col("sh_b")))
      .filter(col("jaccard") >= threshold)
      .select(col("a").as("a_id"), col("b").as("b_id"), round(col("jaccard"), 4).as("jaccard"))
  }

  /** One batch through the persisted MinHash index at `prefix` — the
    * `dedup` CLI step's `method=incremental`. Returns the surviving rows
    * of `batch`. The batch is shingled once; that pinned `(id, sh)` frame
    * feeds the probe, the drop rule and the fold:
    *  - first run (no index yet): verified within-batch pairs drop their
    *    larger id ([[DedupOps.minhashDropIds]]' keep-min rule);
    *  - later runs: [[probeOf]] pairs drop their NEW side when the other
    *    side is indexed (the index wins, whatever the ids), else their
    *    larger id;
    *  - with `update`, the survivors' frame is pinned — so no later plan
    *    reads the index tables the fold writes — and builds the index
    *    (first run) or is appended to it; without, the index is read only.
    */
  def minhashIndexDedup(
      batch: DataFrame,
      textCol: String,
      idCol: String,
      prefix: String,
      numBuckets: Int,
      threshold: Double,
      shingleSize: Int,
      numBands: Int,
      rowsPerBand: Int,
      update: Boolean
  ): DataFrame = {
    val index = IndexTables(s"${prefix}_bands", s"${prefix}_sigs")
    val indexed = batch.sparkSession.catalog.tableExists(index.bands)
    // EAGER: feeds the probe's band keys, verify sides and guard (or the
    // first run's pair generation) AND the fold's two concurrent writes
    val docsSh = DedupOps.shingleSets(batch, textCol, idCol, shingleSize).transform(Ckpt.eagerCkpt)
    val pairs =
      if (indexed) probeOf(docsSh, index, threshold, numBands, rowsPerBand)
      else DedupOps.minhashDupPairsOf(docsSh, threshold, numBands, rowsPerBand)
    val newIds = docsSh.select("id")
    val drops = pairs
      .join(newIds.select(col("id").as("a_id"), lit(true).as("a_new")), Seq("a_id"), "left")
      .join(newIds.select(col("id").as("b_id"), lit(true).as("b_new")), Seq("b_id"), "left")
      .select(
        when(col("a_new").isNull, col("b_id"))
          .when(col("b_new").isNull, col("a_id"))
          .otherwise(col("b_id")).as("drop_id"))
    val kept = docsSh.join(drops, col("id") === col("drop_id"), "left_anti")
    val folded = if (!update) kept else {
      val pinned = kept.transform(Ckpt.eagerCkpt)
      if (indexed) appendToIndexOf(pinned, index, numBuckets, numBands, rowsPerBand)
      else buildIndexOf(pinned, prefix, numBuckets, numBands, rowsPerBand)
      pinned
    }
    batch.join(folded.select(col("id").as("__keep_id")), batch(idCol) === col("__keep_id"), "left_semi")
  }

  // ----- incremental winnowing (shared-PASSAGE) index -----
  // The same daily-delta posture applied to winnowing fingerprints
  // ([[DedupOps.winnowFingerprints]]): whole-doc MinHash misses a long
  // license block pasted into otherwise-unique docs; the fingerprint
  // index catches any shared run ≥ w+k−1 tokens against the ENTIRE kept
  // corpus without re-fingerprinting it. Index = one catalog table of
  // [[DedupOps.winnowHashes]] rows (fp_hash, id) bucketed by fp_hash, so
  // the probe's hash join plans with no Exchange on the corpus side.
  // (k, w, minShared) are part of the index contract, exactly like the
  // MinHash band parameters.

  /** Build (overwrite) the fingerprint index table `fpsTable` from a
    * [[DedupOps.winnowHashes]] frame. */
  def buildWinnowIndexOf(fps: DataFrame, fpsTable: String, numBuckets: Int): Unit =
    BucketOps.writeBucketed(fps, fpsTable, numBuckets, Seq("fp_hash"), sortKeys = Seq("fp_hash"))

  /** Fold a [[DedupOps.winnowHashes]] frame into the index
    * (bucket-spec-preserving append — a mismatched spec is rejected
    * loudly by appendBucketed). */
  def appendToWinnowIndexOf(fps: DataFrame, fpsTable: String, numBuckets: Int): Unit =
    BucketOps.appendBucketed(fps, fpsTable, numBuckets, Seq("fp_hash"), sortKeys = Seq("fp_hash"))

  /** Probe a batch's [[DedupOps.winnowHashes]] frame against the
    * persisted fingerprint index: batch docs sharing ≥ `minShared`
    * distinct selected hashes with an INDEXED doc (the MOSS link —
    * guaranteed for any shared token run ≥ w+k−1 at minShared = 1).
    * Returns (idx_id, batch_id, n_shared); the index side scans
    * Exchange-free. */
  def probeWinnowIndexOf(
      newFps: DataFrame,
      fpsTable: String,
      minShared: Int = 2
  ): DataFrame = {
    val spark = newFps.sparkSession
    newFps
      .select(col("fp_hash"), col("id").as("batch_id"))
      .join(spark.table(fpsTable).select(col("fp_hash"), col("id").as("idx_id")),
        Seq("fp_hash"))
      .filter(col("idx_id") =!= col("batch_id"))
      .groupBy("idx_id", "batch_id")
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** One batch through the persisted fingerprint index `fpsTable`.
    * `ids` holds every batch id in its one column (a doc too short for
    * one fingerprint has none, and survives); `fps` is the batch's
    * [[DedupOps.winnowHashes]] frame, checkpointed by the caller — it
    * feeds the probe, the self-dedup of the remainder and the fold.
    * Returns `(<ids' column>, verdict)`:
    *  - `dropped_index`: shares ≥ `minShared` selected hashes with an
    *    indexed doc (the index wins);
    *  - `dropped_delta`: linked within the rest of the batch to a smaller
    *    id (keep-min over connected components, [[DedupOps.applyPairDedup]]);
    *  - `survived`.
    * The first run (no table yet) builds the index from the survivors'
    * fingerprints; later runs append them with `update`. Either fold pins
    * the verdicts first, so no later plan reads the table it writes.
    */
  def winnowIndexStep(
      ids: DataFrame,
      fps: DataFrame,
      fpsTable: String,
      numBuckets: Int,
      minShared: Int,
      update: Boolean
  ): DataFrame = {
    val id = ids.columns.head
    val indexed = fps.sparkSession.catalog.tableExists(fpsTable)
    val dropIdx =
      if (indexed)
        Some(probeWinnowIndexOf(fps, fpsTable, minShared).select(col("batch_id").as(id)).distinct())
      else None
    val remFps = dropIdx.fold(fps)(d => fps.join(d, fps("id") === d(id), "left_anti"))
    val selfPairs = DedupOps.winnowDupPairsOf(remFps, minShared).select("a_id", "b_id")
    val rem = dropIdx.fold(ids)(d => ids.join(d, Seq(id), "left_anti"))
    val survivors = DedupOps.applyPairDedup(rem, id, selfPairs).select(id)
    val verdicts = dropIdx
      .fold(ids.withColumn("__di", lit(null)))(d => ids.join(d.withColumn("__di", lit(1)), Seq(id), "left"))
      .join(survivors.withColumn("__sv", lit(1)), Seq(id), "left")
      .withColumn("verdict",
        when(col("__di") === 1, lit("dropped_index"))
          .when(col("__sv") === 1, lit("survived"))
          .otherwise(lit("dropped_delta")))
      .select(id, "verdict")
    if (indexed && !update) verdicts
    else {
      val pinned = verdicts.transform(Ckpt.eagerCkpt)
      val keep = pinned.filter(col("verdict") === "survived").select(col(id).as("__keep_id"))
      val keptFps = fps.join(keep, col("id") === col("__keep_id"), "left_semi")
      if (indexed) appendToWinnowIndexOf(keptFps, fpsTable, numBuckets)
      else buildWinnowIndexOf(keptFps, fpsTable, numBuckets)
      pinned
    }
  }

  /** [[winnowIndexStep]] over a batch of ROWS: fingerprints `batch` once
    * (eager pin) and returns its surviving rows. The `dedup` CLI step's
    * `method=winnow&index=` and [[winnowIndexDedupSink]] run this. */
  def winnowIndexDedup(
      batch: DataFrame,
      textCol: String,
      idCol: String,
      fpsTable: String,
      numBuckets: Int,
      minShared: Int,
      k: Int,
      w: Int,
      update: Boolean
  ): DataFrame = {
    val fps = DedupOps.winnowHashes(batch, textCol, idCol, k, w).transform(Ckpt.eagerCkpt)
    val keep = winnowIndexStep(batch.select(idCol), fps, fpsTable, numBuckets, minShared, update)
      .filter(col("verdict") === "survived")
      .select(col(idCol).as("__keep_id"))
    batch.join(keep, batch(idCol) === col("__keep_id"), "left_semi")
  }

  /** STREAMING winnowing-index dedup + maintenance — [[winnowIndexDedup]]
    * run as a `foreachBatch` sink (the IVF-maintenance and CDC-apply
    * exactly-once precedents composed). Each micro-batch drops docs the
    * index already covers, self-dedups the rest, folds the survivors'
    * fingerprints into the index under the SAME bucket spec (the next
    * batch's probe still plans Exchange-free on the index side), then
    * lands the survivor ROWS through [[graft.streaming.StreamOps.writeBatchPartition]]
    * (`__batch_id=<n>` dynamic-partition overwrite — idempotent per batch).
    *
    * Replayed batch ids are complete no-ops (commit marker written after
    * all writes). A crash after the fold and before the marker replays
    * the batch against an index that already holds its survivors'
    * fingerprints: a doc never matches its own id, so the survivors are
    * the same, and the re-appended (fp_hash, id) rows only INFLATE later
    * probes' n_shared — over-dropping near-dup candidates, never letting
    * one through (the IVF sink's at-least-once note, with the failure
    * direction made explicit). Stream-maintained index ≡ the batch chain
    * over the same deltas — pinned in Round11OpsSpec.
    */
  def winnowIndexDedupSink(
      fpsTable: String,
      textCol: String,
      idCol: String,
      numBuckets: Int,
      outDir: String,
      commitDir: String,
      minShared: Int = 2,
      k: Int = 4,
      w: Int = 4
  ): (DataFrame, Long) => Unit =
    graft.streaming.StreamOps.idempotentForeachBatch(commitDir, { (batch, batchId) =>
      // eager checkpoint: the micro-batch frame feeds the fingerprint pin
      // AND the survivor write
      val stable = batch.transform(Ckpt.eagerCkpt)
      graft.streaming.StreamOps.writeBatchPartition(
        winnowIndexDedup(stable, textCol, idCol, fpsTable, numBuckets, minShared, k, w, update = true),
        batchId, outDir)
    })
}
